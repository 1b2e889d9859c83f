"""Pure DataFrame transforms: parse → validate → enrich → split.

This is rows 2-4 of SURVEY.md §2.1 as one declarative plan:
- JSON parse with PERMISSIVE semantics (extra fields ignored, malformed →
  null struct) — matches reference leniency (message.py:93-97) with the
  required-field strictness re-added as an explicit predicate
  (message.py:88-91).
- job_id defaulting via uuid() (message.py:94).
- server enrichment as a broadcast hash join on upper(hostname) ×2
  (config.py:92-130's lookup, :104 case-insensitivity); unknown server ⇒
  DLQ, not crash (tests/test_consumer.py:210-225).

The whole plan is shuffle-free: from_json/validity are narrow, both
enrichment joins broadcast — at 100 TB this scales linearly with input
partitions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_file_sync_spark.pipeline.schemas import JOB_SCHEMA

ERR_PARSE = "parse_error: invalid or non-object JSON"
ERR_MISSING = "missing_field: source/destination hostname+path required"
ERR_UNKNOWN_SRC = "unknown_server: source hostname not configured"
ERR_UNKNOWN_DST = "unknown_server: destination hostname not configured"


@dataclass
class SplitResult:
    valid: DataFrame  # enriched jobs ready for transfer
    dlq: DataFrame  # (original_message, error) — raw payload preserved


def parse_jobs(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """raw value:string → parsed job columns + error classification.

    Keeps the original payload through the transform (SURVEY.md §7.4 risk
    5 — the DLQ needs the raw text for unparseable rows, mirroring
    _send_raw_to_dlq, consumer.py:198-209).
    """
    j = F.from_json(F.col(value_col), JOB_SCHEMA)
    parsed = raw.withColumn("j", j)
    # from_json returns a struct of nulls for malformed input, so parse
    # failure is detected separately, matching reference order: malformed
    # JSON first (ValueError, message.py:68-71), then required fields
    # (message.py:88-91). The reference's json.loads takes exactly ONE
    # value with only whitespace around it, while every JVM JSON reader
    # stops after the first value and ignores what follows ('1 2',
    # '{"a":1} x'). Two wrapped parses restore the whole-input rule:
    # '[' v ']' must be an array of exactly one element (catches trailing
    # values, commas and junk), and '{"v":' v '}' must parse too (catches
    # a v that closes the wrapping array early, as in '1] [2'). Single
    # quotes are off, as in json.loads; NaN/Infinity stay on, as in
    # json.loads.
    opts = {"allowSingleQuotes": "false"}
    v = F.col(value_col)
    one = F.from_json(F.concat(F.lit("["), v, F.lit("]")), "array<string>", opts)
    closed = F.from_json(F.concat(F.lit('{"v":'), v, F.lit("}")), "map<string,string>", opts)
    is_json = one.isNotNull() & (F.size(one) == 1) & closed.isNotNull()
    leaf = parsed["j"]
    ok = (
        leaf["source"]["hostname"].isNotNull()
        & leaf["source"]["path"].isNotNull()
        & leaf["destination"]["hostname"].isNotNull()
        & leaf["destination"]["path"].isNotNull()
    )
    return parsed.withColumn(
        "parse_error",
        F.when(~is_json, F.lit(ERR_PARSE)).when(~ok, F.lit(ERR_MISSING)),
    ).withColumn("job_id", F.coalesce(leaf["job_id"], F.expr("uuid()")))


def split_valid_dlq(raw: DataFrame, servers: DataFrame, value_col: str = "value") -> SplitResult:
    """Full classify/enrich/split. `servers` is the config dimension
    (hostname,type,host,port,username,password,base_path)."""
    parsed = parse_jobs(raw, value_col)

    src_srv = servers.select(*[F.col(c).alias(f"src_{c}") for c in servers.columns])
    dst_srv = servers.select(*[F.col(c).alias(f"dst_{c}") for c in servers.columns])

    enriched = (
        parsed.join(
            F.broadcast(src_srv),
            F.upper(F.col("j.source.hostname")) == F.col("src_hostname"),
            "left",
        ).join(
            F.broadcast(dst_srv),
            F.upper(F.col("j.destination.hostname")) == F.col("dst_hostname"),
            "left",
        )
    )
    error = F.coalesce(
        F.col("parse_error"),
        F.when(F.col("src_hostname").isNull(), F.lit(ERR_UNKNOWN_SRC)),
        F.when(F.col("dst_hostname").isNull(), F.lit(ERR_UNKNOWN_DST)),
    )
    classified = enriched.withColumn("error", error)

    valid = classified.filter(F.col("error").isNull()).select(
        "job_id",
        F.col("j.source.path").alias("src_path"),
        F.col("j.destination.path").alias("dst_path"),
        *[c for c in classified.columns if c.startswith(("src_", "dst_")) and c not in ("src_path", "dst_path")],
    )
    # Reference parity: BOTH parse failures and required-field failures
    # raise ValueError inside from_json (message.py:68-71, :88-91) before
    # any job object exists, so the consumer wraps the RAW text for both
    # (consumer.py:126-134 → _send_raw_to_dlq, :198-209). Only
    # post-parse failures (unknown server, transfer errors) carry the
    # parsed job dict (consumer.py:188-196).
    original = F.when(
        (F.col("error") == ERR_PARSE) | (F.col("error") == ERR_MISSING),
        F.to_json(F.struct(F.col(value_col).alias("raw"))),
    ).otherwise(F.to_json(F.col("j")))
    dlq = classified.filter(F.col("error").isNotNull()).select(
        original.alias("original_message"), F.col("error")
    )
    return SplitResult(valid=valid, dlq=dlq)


def dlq_envelope(dlq: DataFrame) -> DataFrame:
    """Wrap (original_message, error) rows in the DLQ Kafka envelope:
    value = JSON {original_message, error, timestamp, retry_count} —
    message.py:112-130 / :132-153 parity (retry_count always 0)."""
    return dlq.select(
        F.to_json(
            F.struct(
                F.col("original_message"),
                F.col("error"),
                F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("timestamp"),
                F.lit(0).alias("retry_count"),
            )
        ).alias("value")
    )
