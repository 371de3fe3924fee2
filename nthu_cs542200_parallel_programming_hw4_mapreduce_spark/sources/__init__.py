"""Sources beyond the parquet fixture catalog (``catalog.py``): the
chunked line-text input of the MapReduce job (the reference's O1, with
quirk flags), the jar-free Delta Lake log reader, and the per-fixture
cache of derived on-disk tables."""
