"""Relational and pipeline operators (SURVEY §2.3-§2.7).

Each function is a documented ``DataFrame -> DataFrame`` transform that
maps one (or a small family of) reference operators onto Spark
primitives, keeping the plan declarative so Catalyst can choose
physical strategies.
"""

from las_vpe_platform_spark.operators.aggregates import (  # noqa: F401
    cms_heavy_hitters,
    completeness_check,
    hll_distinct,
    wide_avg,
)
from las_vpe_platform_spark.operators.clustering import (  # noqa: F401
    kmeans_assign,
)
from las_vpe_platform_spark.operators.dedup import (  # noqa: F401
    connected_components,
    containment_pairs,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    prefix_filter_pairs,
)
from las_vpe_platform_spark.operators.staging import (  # noqa: F401
    persist_disk,
    unpersist_all,
)
from las_vpe_platform_spark.operators.joins import (  # noqa: F401
    full_outer_assemble,
    pairwise_similarity_topk,
)
from las_vpe_platform_spark.operators.routing import (  # noqa: F401
    demux,
    port_filter,
    term_sig_filter,
)
from las_vpe_platform_spark.operators.sampling import (  # noqa: F401
    even_spaced_sample,
    hashed_ngram_importance,
    sample_array_even,
)
from las_vpe_platform_spark.operators.similarity import (  # noqa: F401
    hard_negatives_topk,
    semantic_dedup_keep,
)
from las_vpe_platform_spark.operators.windows import (  # noqa: F401
    last_n,
    topk_per_group,
)
