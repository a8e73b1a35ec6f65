from skills_vectors_spark.functions.vector import (  # noqa: F401
    cosine_from_norms,
    cosine_sim,
    dot,
    l2_dist,
    l2_norm,
)
