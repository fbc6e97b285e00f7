"""DataFrame operators: blocking, dedup, closure, graph, ANN and friends."""
