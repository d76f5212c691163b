"""Query registry: ``QUERIES`` maps an entry name to its Spark plan and
``ORACLES`` maps the same name to its DuckDB SQL twin. Each module
registers its entries as an import side effect, so both dicts iterate in
registration order: ``queries`` first, then the modules imported below,
in this order.
"""

from glamira_end_to_end_data_pipeline_spark.plans.queries import ORACLES, QUERIES

from glamira_end_to_end_data_pipeline_spark.plans import (  # noqa: F401
    ingest_queries,
    northstar_queries,
    star_queries,
    streaming_queries,
    extra_queries,
    r5_queries,
    r6_queries,
    r7_queries,
    r8_queries,
    r9_queries,
    r10_queries,
    r11_queries,
    r12_queries,
    r13_queries,
    r14_queries,
    r15_queries,
)

__all__ = ["ORACLES", "QUERIES"]
