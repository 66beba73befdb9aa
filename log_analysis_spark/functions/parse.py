"""Vectorized grok/regex parse stage over the transcript ``text`` column.

Two interchangeable implementations with identical output schema/semantics:

* ``impl="native"`` — pure ``pyspark.sql.functions`` expressions: stays
  inside WholeStageCodegen, zero JVM↔Python traffic.  This is the fast path
  at 100 TB.
* ``impl="arrow"`` — one struct-returning ``arrow_udf`` doing multi-pattern
  grok extraction in pyarrow.compute (RE2) over Arrow batches (the sanctioned
  slow path for patterns that outgrow single regexp_extract calls; never
  per-row Python).

Taxonomy + extraction shapes derive from the reference:
  * class constants — ngap-logs.py:86-90; counting/classify loop
    log_processing.py:73-82 (request/info/error/timing + unknown remainder)
  * ``'|&|'`` positional split — log_processing.py:64-91
  * ``Time to gather N responses: F ms`` / ``Error: CODE`` —
    response_times2.py:8-47
  * ``Profile timing: <Action> - <detail>`` split —
    HyraxLogAnalysis.jl:118-139
  * HTTP-code / code-ref / attempt markers in error text —
    reference README.md:104-112, ngap-06.11.25/summary.md:80-96
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TURN_CLASSES = ["request", "info", "error", "timing", "unknown"]

# Parsed-field schema — fixed and explicit (SURVEY.md §1.2 rebuild decision:
# raggedness is handled here and only here; every downstream stage sees
# these exact columns).
PARSED_SCHEMA = T.StructType(
    [
        T.StructField("turn_class", T.StringType()),
        T.StructField("http_code", T.IntegerType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("code_ref", T.StringType()),
        T.StructField("n_responses", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("action", T.StringType()),
        T.StructField("cache_op", T.StringType()),
        T.StructField("url_path", T.StringType()),
        T.StructField("http_method", T.StringType()),
        T.StructField("req_epoch", T.LongType()),
        T.StructField("instance_id", T.StringType()),
        T.StructField("pid", T.IntegerType()),
    ]
)

PARSED_COLS = [f.name for f in PARSED_SCHEMA.fields]

# Java regex patterns of the native impl (the arrow impl runs RE2 variants)
RX_HTTP_CODE_ERR = r"HTTP code of ([0-9]+)"
RX_ATTEMPT = r"attempt: ([0-9]+)"
RX_CODE_REF = r"\(([A-Za-z_]+\.(?:cc|h|py|jl):[0-9]+)\)"
RX_N_RESPONSES = r"gather ([0-9]+) responses"
RX_DURATION = r"responses: ([0-9.]+) ms"
RX_ACTION = r"Profile timing: (\S+) - "
RX_CACHE_OP = r"Cache (hit|miss|put),"
RX_INFO_PATH = r"path: (\S+)$"
RX_REQ_PAYLOAD = r"^([A-Z]+) (\S+) ([0-9]+)$"


def turn_class_col(text: F.Column) -> F.Column:
    """Derived routing class (reference taxonomy, log_processing.py:73-82)."""
    return (
        F.when(text.startswith("ERROR!"), "error")
        .when(text.startswith("Profile timing:"), "timing")
        .when(text.startswith("BESLog::info()"), "info")
        .when(text.contains("|&|request|&|"), "request")
        .otherwise("unknown")
    )


def _nullif_int(c: F.Column) -> F.Column:
    return F.nullif(c, F.lit("")).cast("int")


def _gated(t: F.Column, marker: str, pattern: str, group: int = 1) -> F.Column:
    """regexp_extract behind a literal-substring gate.

    Exactly semantics-preserving: each pattern contains ``marker`` as a
    literal, so on rows without it the regex would return '' (→ null) anyway.
    ``contains`` is a plain substring scan, ~10× cheaper than the regex —
    grok's classic literal pre-filter; cuts full-field parse cost several-fold
    since each marker appears in only one turn class (~20% of rows)."""
    return F.nullif(
        F.when(t.contains(marker), F.regexp_extract(t, pattern, group)), F.lit("")
    )


def parse_turns_native(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse stage, all-JVM expression form (WholeStageCodegen-friendly)."""
    t = F.col(text_col)
    cls = turn_class_col(t)
    # positional '|&|' split for request-like turns (log_processing.py:71)
    parts = F.split(t, r"\|&\|")
    payload = F.element_at(parts, 5)
    is_req = cls == "request"

    df = df.withColumns(
        {
            "turn_class": cls,
            "http_code": F.coalesce(
                _gated(t, "HTTP code of ", RX_HTTP_CODE_ERR).cast("int"),
                F.when(is_req, _nullif_int(F.regexp_extract(payload, RX_REQ_PAYLOAD, 3))),
            ),
            "attempt": _gated(t, "attempt: ", RX_ATTEMPT).cast("int"),
            "code_ref": _gated(t, "(", RX_CODE_REF),
            "n_responses": _gated(t, " responses", RX_N_RESPONSES).cast("int"),
            "duration_ms": _gated(t, " ms", RX_DURATION).cast("double"),
            "action": _gated(t, "Profile timing: ", RX_ACTION),
            "cache_op": _gated(t, "Cache ", RX_CACHE_OP),
            "url_path": F.coalesce(
                F.when(is_req, F.nullif(F.regexp_extract(payload, RX_REQ_PAYLOAD, 2), F.lit(""))),
                _gated(t, "path: ", RX_INFO_PATH),
            ),
            "http_method": F.when(
                is_req, F.nullif(F.regexp_extract(payload, RX_REQ_PAYLOAD, 1), F.lit(""))
            ),
            "req_epoch": F.when(is_req, F.element_at(parts, 1).try_cast("long")),
            "instance_id": F.when(is_req, F.element_at(parts, 2)),
            "pid": F.when(is_req, F.element_at(parts, 3).try_cast("int")),
        }
    )
    return df


# named-group variants for pyarrow.compute.extract_regex (RE2 engine)
RXN_REQ_LINE = (
    r"^(?P<epoch>[0-9]+)\|&\|(?P<inst>[^|]*)\|&\|(?P<pid>[0-9]+)"
    r"\|&\|request\|&\|(?P<payload>.*)$"
)
RXN_REQ_PAYLOAD = r"^(?P<method>[A-Z]+) (?P<path>\S+) (?P<code>[0-9]+)$"


def _grok_arrow(t):
    """Whole-batch grok in pyarrow.compute — every regex runs in C++ (RE2),
    zero Python per row or per batch beyond expression dispatch.

    Returns dict {parsed_col -> pa.Array}.  Identical to the native impl on
    the transcript grammar; the one documented divergence: a text whose class
    is not `request` but which embeds the request delimiter pattern parses
    request fields as null here (the native impl also nulls them — guarded by
    turn_class — so the two agree; only >5-delimiter rows would differ, and
    the grammar has none).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def ex(pattern, field, arr=t):
        return pc.struct_field(pc.extract_regex(arr, pattern=pattern), field)

    s = pa.scalar
    cls = pc.if_else(
        pc.starts_with(t, "ERROR!"), s("error"),
        pc.if_else(
            pc.starts_with(t, "Profile timing:"), s("timing"),
            pc.if_else(
                pc.starts_with(t, "BESLog::info()"), s("info"),
                pc.if_else(
                    pc.match_substring(t, "|&|request|&|"), s("request"),
                    s("unknown"),
                ),
            ),
        ),
    )
    cls = pc.coalesce(cls, s("unknown"))
    is_req = pc.equal(cls, s("request"))

    req = pc.extract_regex(t, pattern=RXN_REQ_LINE)
    null_str = s(None, pa.string())

    def req_only(arr):
        return pc.if_else(is_req, arr, null_str)

    payload = req_only(pc.struct_field(req, "payload"))
    pm = pc.extract_regex(payload, pattern=RXN_REQ_PAYLOAD)

    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    out = {
        "turn_class": cls,
        "http_code": pc.cast(
            pc.coalesce(
                ex(r"HTTP code of (?P<c>[0-9]+)", "c"), pc.struct_field(pm, "code")
            ),
            i32,
        ),
        "attempt": pc.cast(ex(r"attempt: (?P<a>[0-9]+)", "a"), i32),
        "code_ref": ex(r"\((?P<r>[A-Za-z_]+\.(?:cc|h|py|jl):[0-9]+)\)", "r"),
        "n_responses": pc.cast(ex(r"gather (?P<n>[0-9]+) responses", "n"), i32),
        "duration_ms": pc.cast(ex(r"responses: (?P<d>[0-9.]+) ms", "d"), f64),
        "action": ex(r"Profile timing: (?P<a>\S+) - ", "a"),
        "cache_op": ex(r"Cache (?P<o>hit|miss|put),", "o"),
        "url_path": pc.coalesce(
            # RE2's '$' matches end-of-text only; Java/Python '$' also match
            # before one final '\n' — the optional trailing newline keeps the
            # two impls cell-identical on newline-terminated rows
            pc.struct_field(pm, "path"), ex(r"path: (?P<p>\S+)\n?$", "p")
        ),
        "http_method": pc.struct_field(pm, "method"),
        "req_epoch": pc.cast(req_only(pc.struct_field(req, "epoch")), i64),
        "instance_id": req_only(pc.struct_field(req, "inst")),
        "pid": pc.cast(req_only(pc.struct_field(req, "pid")), i32),
    }
    return out


def parse_turns_arrow(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse stage as a struct-returning ``arrow_udf`` (Spark 4.1): only the
    text column crosses the JVM↔Python boundary (as a ``pyarrow.Array``), and
    the whole grok runs in pyarrow.compute / RE2 — no pandas boxing at all."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(PARSED_SCHEMA)
    def grok(t: pa.Array) -> pa.Array:
        # every Spark python worker would otherwise run each Arrow kernel on
        # its own ncpu-sized thread pool (workers × cores threads total);
        # batches are small, so single-threaded kernels per worker scale
        # correctly.  Scoped save/restore: set_cpu_count is process-global in
        # reused workers — leaving it at 1 would silently de-parallelize any
        # other pyarrow-based stage later scheduled on the same worker.
        prev = pa.cpu_count()
        pa.set_cpu_count(1)
        try:
            out = _grok_arrow(t)
            return pa.StructArray.from_arrays(
                [out[c] for c in PARSED_COLS], names=PARSED_COLS
            )
        finally:
            pa.set_cpu_count(prev)

    df = df.withColumn("_parsed", grok(F.col(text_col)))
    for name in PARSED_COLS:
        df = df.withColumn(name, F.col(f"_parsed.{name}"))
    return df.drop("_parsed")


def parse_turns(df: DataFrame, text_col: str = "text", impl: str = "native") -> DataFrame:
    if impl == "native":
        return parse_turns_native(df, text_col)
    if impl == "arrow":
        return parse_turns_arrow(df, text_col)
    raise ValueError(f"unknown parse impl: {impl!r}")


def class_counts(df: DataFrame) -> DataFrame:
    """A1 — count per class; caller asserts sum == total (the reference's
    classification-completeness invariant, log_processing.py:94-95)."""
    return df.groupBy("turn_class").agg(F.count("*").alias("n"))
