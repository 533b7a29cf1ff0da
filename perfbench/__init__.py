"""Host benchmark for arroyo_spark; see run.py and LAYERS.md."""
