from .parquet_io import load_table

__all__ = ["load_table"]
