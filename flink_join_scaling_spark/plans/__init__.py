from flink_join_scaling_spark.plans.registry import (  # noqa: F401
    QUERIES,
    oracle_sqls,
    query_fns,
)

# importing the modules populates the registry
from flink_join_scaling_spark.plans import reference_joins  # noqa: F401,E402
from flink_join_scaling_spark.plans import relational  # noqa: F401,E402
from flink_join_scaling_spark.plans import relational_ext  # noqa: F401,E402
from flink_join_scaling_spark.plans import tpch_full  # noqa: F401,E402
from flink_join_scaling_spark.plans import temporal_q  # noqa: F401,E402
from flink_join_scaling_spark.plans import streaming_q  # noqa: F401,E402
from flink_join_scaling_spark.plans import llmdata  # noqa: F401,E402
from flink_join_scaling_spark.plans import corpus  # noqa: F401,E402
from flink_join_scaling_spark.plans import layout  # noqa: F401,E402
from flink_join_scaling_spark.plans import bpe_q  # noqa: F401,E402
from flink_join_scaling_spark.plans import classifier_q  # noqa: F401,E402
from flink_join_scaling_spark.plans import select_q  # noqa: F401,E402
