"""Scalar / text / vector column functions (SURVEY §2.8).

All functions return Spark Column expressions built from
``pyspark.sql.functions`` — JVM-side, codegen-friendly, no Python UDFs
in any hot path.
"""

from las_vpe_platform_spark.functions.scalar import (  # noqa: F401
    tracklet_key,
    video_id_from_url,
    video_start_ts,
)
from las_vpe_platform_spark.functions.text import (  # noqa: F401
    content_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from las_vpe_platform_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot_product,
    l2_norm,
)
