from riskloc_spark.plans.cuboid import cuboids_of_layer, element_stats_all

__all__ = ["cuboids_of_layer", "element_stats_all"]
