from simple_map_reduce_ruuner_spark.plans.skew import salted_aggregate

__all__ = ["salted_aggregate"]
