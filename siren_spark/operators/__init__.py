from siren_spark.operators.seen import BloomFilter, filter_unseen  # noqa: F401
from siren_spark.operators.politeness import politeness_schedule  # noqa: F401
from siren_spark.operators.robots import RobotsGate  # noqa: F401
from siren_spark.operators.checkpoint import CheckpointStore  # noqa: F401
