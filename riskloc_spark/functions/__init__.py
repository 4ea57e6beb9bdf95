from riskloc_spark.functions.scores import (
    add_deviation_score,
    add_ep_and_surprise,
    add_explanatory_power,
    add_partition,
    add_surprise,
    add_weight,
    get_cutoff,
)

__all__ = [
    "add_deviation_score",
    "add_ep_and_surprise",
    "add_explanatory_power",
    "add_partition",
    "add_surprise",
    "add_weight",
    "get_cutoff",
]
