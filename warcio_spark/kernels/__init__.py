"""Pure-Python kernels (no Spark imports) — unit-testable standalone and
wrapped as vectorized pandas UDFs in ``warcio_spark.functions``."""

from .chrono import (  # noqa: F401
    datetime_to_http_date,
    datetime_to_iso,
    datetime_to_ts14,
    http_date_to_datetime,
    http_date_to_ts14,
    iso_to_datetime,
    iso_to_ts14,
    sec_to_ts14,
    ts14_to_datetime,
    ts14_to_http_date,
    ts14_to_iso,
    ts14_to_sec,
)
from .digests import digest_b32, digests_match, split_digest, verify_payload  # noqa: F401
from .parse import (  # noqa: F401
    ArchiveParseError,
    header_get,
    header_replace,
    make_record_id,
    parse_warc_bytes,
)
from .payload import (  # noqa: F401
    decode_content,
    extract_content,
    gzip_member_compress,
    is_gzip,
    split_gzip_members,
)
from .textcodec import decode_fallback, percent_encode_non_ascii_headers  # noqa: F401
