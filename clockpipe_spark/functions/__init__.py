from clockpipe_spark.functions.casts import (  # noqa: F401
    pg_bool_parse_sql,
    pg_to_int_sql,
    pg_to_real_sql,
    pg_datetime_trunc_sql,
    pg_array_parse,
    pg_string_array_parse,
    mask_column,
    objectid_hex,
    binary_base64,
)
