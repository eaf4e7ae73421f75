"""Operator library: composed, scale-aware DataFrame transforms.

Operators are JVM-side Catalyst expressions or Arrow-batched Python
passes (mapInPandas / applyInPandas / pandas_udf), never row-at-a-time
Python UDFs. The Arrow passes carry per-document work that batch
Python does faster than interpreted expression chains (e.g.
text.repetition_signals, BPE, graph and ANN kernels) and the codec /
document-format decoders.
"""

from xetl_spark.operators.relational import (  # noqa: F401
    dedup_keep_first,
    deterministic_sample,
    salted_join,
    sessionize,
    topk_per_group,
    weighted_sample,
)
from xetl_spark.operators.graph import (  # noqa: F401
    connected_components,
    dedup_clusters,
    label_propagation,
    pagerank,
)
from xetl_spark.operators.timeseries import (  # noqa: F401
    ewma,
    interpolate_linear,
    resample_ffill,
)
from xetl_spark.operators.cdc import (  # noqa: F401
    apply_deletion_vectors,
    latest_snapshot,
    merge_upsert,
    read_with_position,
    scd2,
    stream_cdc_fold,
)
from xetl_spark.operators.asof import asof_join, range_join  # noqa: F401
from xetl_spark.operators.dedup import (  # noqa: F401
    contamination_check,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    pair_jaccard,
    pair_jaccard_hashed,
    simhash,
    simhash_near_duplicates,
    shingles,
)
from xetl_spark.operators.similarity import (  # noqa: F401
    cosine_near_duplicates,
    cosine_topk_bruteforce,
    ivf_ann_topk,
    ivf_build_index,
    ivf_query_index,
    lsh_ann_topk,
)
from xetl_spark.operators import text  # noqa: F401
from xetl_spark.operators import multimodal  # noqa: F401
from xetl_spark.operators import quality  # noqa: F401
