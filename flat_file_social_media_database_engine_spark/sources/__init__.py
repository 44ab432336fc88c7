from .catalog import read_table
from .csv_source import read_csv_strict, load_social_tables
from .integrity import semi_filter, ri_sweep

__all__ = [
    "read_table",
    "read_csv_strict",
    "load_social_tables",
    "semi_filter",
    "ri_sweep",
]
