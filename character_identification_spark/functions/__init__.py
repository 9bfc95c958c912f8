from character_identification_spark.functions.hashing import (  # noqa: F401
    h_hex,
    h_long,
    h_unit,
    dd_h_hex,
    dd_h_long,
    dd_h_unit,
)
from character_identification_spark.functions.strings import (  # noqa: F401
    norm_text,
    jaro_winkler_udf,
)
from character_identification_spark.functions.vectors import (  # noqa: F401
    cosine_sim,
    dot,
    l2_norm,
)
