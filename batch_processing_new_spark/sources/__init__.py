from batch_processing_new_spark.sources.readers import (  # noqa: F401
    TABLES,
    load_table,
    load_tables,
    read_csv,
    release_row_id_pin,
    with_ingest_row_id,
)
