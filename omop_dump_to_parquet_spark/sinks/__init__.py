from .parquet_sink import PARQUET_CODEC, REFERENCE_SIZING, write_parquet  # noqa: F401
from .bucketed import write_bucketed  # noqa: F401
from .compact import compact_parquet_dir  # noqa: F401
