from .timefeat import with_write_defaults

__all__ = ["with_write_defaults"]
