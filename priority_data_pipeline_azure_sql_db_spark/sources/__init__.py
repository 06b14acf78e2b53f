"""Source connectors: the parquet fixture loader and the OData-style source."""

from .parquet import load_table  # noqa: F401
