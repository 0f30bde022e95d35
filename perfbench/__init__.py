"""Engine benchmark: seeded workloads that drive the engine's public
functions, check every answer, and report end-to-end and per-layer
metrics.  Entry point: ``python3 perfbench/run.py --workload <name>``;
see ``perfbench/README.md``."""
