"""Schema-codec processor: avro → structured columns.

Reference: lib/processor/avro.go:22 (to_json over schema'd payloads).

Spark ships `from_avro` (pyspark.sql.avro.functions), but it needs the
spark-avro runtime jar on the cluster.  This container lacks it, so the
wrapper gates with an actionable error instead of failing deep inside
py4j — the same pattern the reference uses for build-tagged components.
The protobuf processor runs on the pure-Python codec in `protobuf_py`.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession


class MissingSparkPackage(ImportError):
    def __init__(self, feature: str, package: str):
        super().__init__(
            f"{feature} needs the {package} jar on the cluster "
            f"(spark-submit --packages org.apache.spark:{package}); "
            "it is not bundled in this container")


def _require_jvm_class(class_name: str, feature: str, package: str) -> None:
    """The python from_avro/from_protobuf wrappers always import; the
    jar absence only surfaces later, deep in analysis — probe the JVM
    class eagerly so callers get an actionable error at call time."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return  # nothing to probe against; analysis will raise later
    try:
        spark._jvm.java.lang.Class.forName(class_name)
    except Exception as e:
        raise MissingSparkPackage(feature, package) from e


def avro_to_struct(col: Column, json_schema: str) -> Column:
    """`avro` op=to_json equivalent: binary avro → typed struct."""
    _require_jvm_class("org.apache.spark.sql.avro.AvroDataToCatalyst",
                       "avro decode", "spark-avro_2.13")
    from pyspark.sql.avro.functions import from_avro
    return from_avro(col, json_schema)
