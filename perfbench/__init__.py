"""KG-construction benchmark (see run.py and README.md)."""
