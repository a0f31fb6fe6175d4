from .core import (
    DEFAULT_CHUNK_ROWS,
    ENC_DDL,
    compression_summary,
    decode_column,
    decode_table,
    encode_dataframe,
    get_spark,
    session_conf,
    verify_table,
)
from .manifest import EncodedTable, encode_and_commit
from .sink import decode_table_to_parquet, decode_to_parquet
from .scan import encode_parquet, parquet_work_units, resolve_paths, units_fingerprint
from .partitioning import (
    detect_hot_keys,
    repartition_balanced,
    repartition_by_range,
    repartition_salted,
)

__all__ = [
    "DEFAULT_CHUNK_ROWS",
    "ENC_DDL",
    "EncodedTable",
    "compression_summary",
    "decode_column",
    "decode_table_to_parquet",
    "decode_to_parquet",
    "decode_table",
    "detect_hot_keys",
    "encode_and_commit",
    "encode_dataframe",
    "encode_parquet",
    "parquet_work_units",
    "resolve_paths",
    "units_fingerprint",
    "get_spark",
    "session_conf",
    "repartition_balanced",
    "repartition_by_range",
    "repartition_salted",
    "verify_table",
]
