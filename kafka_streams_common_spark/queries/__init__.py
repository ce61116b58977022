"""Named query surface — importing this package registers every query.

Modules:
- ``core``       — reference-parity operators (SURVEY.md §2.1-§2.6)
- ``streaming``  — Structured Streaming duality queries (§2.4/§2.5/§2.7)
- ``multimodal`` — binary columns with REAL from-scratch codecs
- ``standard``   — §2.7 standard OLAP categories absent in the reference
- ``dedup``      — exact + fuzzy deduplication over ``documents``
- ``similarity`` — embedding similarity search over ``embeddings``
- ``text``       — text analysis + LLM-pipeline ops (split/pack/shard)
- ``quality``    — data-governance profiling/constraints/SCD2

``QUERIES`` / ``ORACLES`` keep registration order; the driver's order is
computed in ``__spark_entry__.py``.
"""

from kafka_streams_common_spark.queries.registry import ORACLES, QUERIES, query

# registration side effects — names must be unique
from kafka_streams_common_spark.queries import core as _core  # noqa: F401,E402
from kafka_streams_common_spark.queries import streaming as _streaming  # noqa: F401,E402
from kafka_streams_common_spark.queries import multimodal as _multimodal  # noqa: F401,E402
from kafka_streams_common_spark.queries import dedup as _dedup  # noqa: F401,E402
from kafka_streams_common_spark.queries import similarity as _similarity  # noqa: F401,E402
from kafka_streams_common_spark.queries import text as _text  # noqa: F401,E402
from kafka_streams_common_spark.queries import standard as _standard  # noqa: F401,E402
from kafka_streams_common_spark.queries import quality as _quality  # noqa: F401,E402
from kafka_streams_common_spark.queries import serde as _serde  # noqa: F401,E402
from kafka_streams_common_spark.queries import web as _web  # noqa: F401,E402

from kafka_streams_common_spark.queries.core import FLAGSHIP  # noqa: E402

__all__ = ["ORACLES", "QUERIES", "FLAGSHIP", "query"]
