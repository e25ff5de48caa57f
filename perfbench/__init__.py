"""The repository benchmark: three workloads over the package's public
functions, end-to-end metrics with tracing off and per-layer metrics
from a traced run. Entry point: ``perfbench/run.py``."""
