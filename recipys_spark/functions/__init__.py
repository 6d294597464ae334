"""Window-spec builders, skew helpers, text feature functions, and the
worker-start hook every shipped function calls first (worker.ready)."""
