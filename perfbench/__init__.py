"""Repository benchmark: workloads, reference checker and per-layer ledger."""
