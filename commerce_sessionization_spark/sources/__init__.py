"""Readers and writers: csv/parquet/media/WARC I/O and partitioned writers
(``sources.io``), the commerce-events generator DataSource
(``sources.generator``) and the testdata table loader (``sources.tables``)."""
