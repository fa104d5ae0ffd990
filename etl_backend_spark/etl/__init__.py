from . import incremental, manifest, scd

__all__ = ["incremental", "manifest", "scd"]
