"""Physical-plan shaping utilities (ordinal, skew, bucketing) and
scale diagnostics."""


class ScaleWarning(UserWarning):
    """An operation was invoked in a shape that collapses to a single
    partition (or otherwise won't scale) — correct on test data,
    a bottleneck on a real cluster."""

