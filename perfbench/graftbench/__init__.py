"""Helpers of the graft benchmark: seeded inputs, statistics, trace folding."""
