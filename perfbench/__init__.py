"""Layered benchmark of sed-spark: seeded inputs, timed ops, a traced run."""
