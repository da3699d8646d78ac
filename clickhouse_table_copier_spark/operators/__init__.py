"""Executable DataFrame pipelines: the engine's operator layer."""
