from packs_spark.io.envelope import envelope  # noqa: F401
from packs_spark.io.lakehouse import CheckpointedWriter  # noqa: F401
