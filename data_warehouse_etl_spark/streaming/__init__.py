from .sessionize import SESSION_SCHEMA, sessionize_stream

__all__ = ["sessionize_stream", "SESSION_SCHEMA"]
