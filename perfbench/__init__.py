"""Link-graph benchmark for dachshund_spark (see perfbench/README.md)."""
