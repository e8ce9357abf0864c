"""Pipeline benchmark for the engine; see run.py."""
