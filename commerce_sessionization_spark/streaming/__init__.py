"""Structured Streaming surface of the engine.

The reference's incrementality is Airflow-driven hourly micro-batching
(``airflow/dags/sessionization_batch.py:12,36-39``); this package is the
stream-native equivalent per SURVEY §2.8/§7.2: ``session_window`` gap
aggregation with watermarked late-data handling, and a stateful per-event
variant whose session ids are byte-identical to the batch operator. That
variant is the package's one arbitrary-state operator and runs on
``applyInPandasWithState``: a per-user update function over one
``(start, last)`` state row.
"""
