from .incremental import run_incremental_available_now, streaming_log_source

__all__ = [
    "run_incremental_available_now",
    "streaming_log_source",
]
