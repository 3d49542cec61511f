from .ids import stable_row_id
from .time import epoch_millis_to_timestamp, time_dimension_columns

__all__ = [
    "stable_row_id",
    "epoch_millis_to_timestamp",
    "time_dimension_columns",
]
