from .parquet import FIXTURE_TABLES, table  # noqa: F401
from .jdbc import read_jdbc_table  # noqa: F401
