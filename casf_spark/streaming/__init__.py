from casf_spark.streaming import curation, events, stateful

__all__ = ["events", "curation", "stateful"]
