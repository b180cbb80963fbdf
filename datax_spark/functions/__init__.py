from datax_spark.functions.extract import (  # noqa: F401
    decode_html,
    extract_text,
    extract_text_udf,
    extract_title,
    extract_title_udf,
)
from datax_spark.functions.hashing import url_partition  # noqa: F401
