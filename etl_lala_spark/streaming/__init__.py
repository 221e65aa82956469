"""Structured Streaming layer (reference §2.9 A6/T4): the stride-progress
``applyInPandasWithState`` operator and the memory-sink driver the stream
twins in ``plans.stream_twins`` run on."""
