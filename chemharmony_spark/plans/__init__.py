from chemharmony_spark.plans.harmonize import (  # noqa: F401
    InvariantError,
    harmonize,
)
from chemharmony_spark.plans.labeler import magentic_labels  # noqa: F401
