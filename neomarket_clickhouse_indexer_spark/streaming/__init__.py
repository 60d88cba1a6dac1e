from .incremental import incremental_candles_stream

__all__ = ["incremental_candles_stream"]
