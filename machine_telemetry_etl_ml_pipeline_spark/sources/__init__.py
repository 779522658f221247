from .catalog import load_table
from .csv import read_telemetry_csv

__all__ = ["load_table", "read_telemetry_csv"]
