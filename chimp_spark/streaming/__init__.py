from .ingest import encode_stream  # noqa: F401
