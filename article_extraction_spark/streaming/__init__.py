from .ingest import run_available_now, streaming_extract  # noqa: F401
