from .core import det_round, exact_sum, ratio

__all__ = ["det_round", "exact_sum", "ratio"]
