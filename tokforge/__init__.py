"""tokforge — PySpark-native streaming token-transform engine."""

from tokforge import worker_setup  # noqa: F401 - per-process worker setup
