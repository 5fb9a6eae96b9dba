"""Named queries: the catalog (``plans.queries``) behind ``bench.py`` and
``__spark_entry__.py``."""
