from .pending_stream import pending_stream  # noqa: F401
