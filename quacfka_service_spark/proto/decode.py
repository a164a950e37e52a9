"""S4 proto_decode: Kafka-record DataFrame -> nested bidreq DataFrame.

Two decode paths (SURVEY.md §7.4):

- **JVM (scale path):** ``pyspark.sql.protobuf.functions.from_protobuf``
  with a compiled descriptor set — the direct analog of the reference's
  generated-code unmarshal (/root/reference/main.go:329-391).  Runs
  inside codegen, no Python hop.  Requires the spark-protobuf jar +
  ``protoc``-compiled descriptor, neither present in the dev container.
- **Python (always available):** the code-generated columnar decoder
  (columnar.py — the pure-Python analog of the reference's vtproto
  codegen) inside ``mapInArrow`` — Arrow-batched, one Python call per
  ~10k-row batch, not per row.  Each field is appended straight into
  per-leaf lists and the typed ``pa.RecordBatch`` is assembled once per
  batch — no per-record dict graph, no JSON text round-trip, no JVM
  ``from_json`` re-parse, and no pandas object-column intermediate
  (mapInArrow hands the batch to the JVM as-is).  All downstream
  operators see the identical schema either way.  The cyclic GC is
  suspended around each batch: decode allocates many short-lived
  objects with zero cycles, and gen-0 sweeps are pure overhead
  (refcounting still frees everything).  ``wire.decode_message`` is
  the interpretive reference the decoder is tested against.

Record shape in = Kafka source columns (``value`` binary, ``timestamp``
timestamp).  The reference's byte hacks map as:
- S2 confluent prefix: stripped JVM-side with ``substring`` before
  either decode path (main.go:231).
- S3 ts suffix: the reference smuggles the Kafka timestamp as 8
  trailing LE bytes because its decoder only sees the payload
  (main.go:228-233,331-333); Spark's Kafka source exposes ``timestamp``
  as a real column, so the suffix is only parsed when replaying
  reference-framed payloads (``ts_suffix=True``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import BIDREQUEST_SCHEMA
from .wire import (
    CONFLUENT_PREFIX_LEN,
    append_ts_suffix,
    encode_bidrequest,
    split_ts_suffix,
)

# decoded payload schema = BIDREQUEST_SCHEMA minus the injected custom
# field event_tm (X3, main.go:201), which is attached post-decode.
PAYLOAD_SCHEMA = T.StructType([f for f in BIDREQUEST_SCHEMA.fields if f.name != "event_tm"])


def strip_confluent_prefix_col(df: DataFrame, col: str = "value") -> DataFrame:
    """S2 confluent_prefix_munger as a JVM-side binary slice."""
    n = CONFLUENT_PREFIX_LEN
    return df.withColumn(col, F.expr(f"substring({col}, {n + 1}, length({col}) - {n})"))


def jvm_protobuf_available(spark) -> bool:
    """Functional probe: Spark ships the pyspark.sql.protobuf wrapper
    (and even a stub class) without the spark-protobuf jar, so presence
    checks lie — actually evaluate a from_protobuf call against a
    one-field descriptor built by our own codec (descriptor.py)."""
    try:
        from pyspark.sql.protobuf.functions import from_protobuf
    except ImportError:
        return False
    import os
    import tempfile

    from .descriptor import build_descriptor_set

    fd, tmp = tempfile.mkstemp(suffix=".desc")
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(build_descriptor_set({1: ("x", "int64", None)}, "Probe"))
        probe = spark.range(1).select(F.lit(b"\x08\x01").alias("value"))
        probe.select(
            from_protobuf("value", "spark.bidreq.Probe", descFilePath=tmp).alias("r")
        ).collect()
        return True
    except Exception:
        return False
    finally:
        os.unlink(tmp)


def decode_bidrequests(
    df: DataFrame,
    *,
    confluent_prefix: bool = False,
    ts_suffix: bool = False,
    use_jvm: bool | None = None,
    desc_path: str | None = None,
    message_name: str = "Bidrequest",
    permissive: bool = False,
    project: list[str] | None = None,
) -> DataFrame:
    """Kafka-shaped (value, timestamp) -> BIDREQUEST_SCHEMA rows.

    ``permissive=True``: a malformed payload is dropped instead of
    failing the batch/stream — the production posture for a Kafka topic
    that may carry stray records (the reference's pooled unmarshal
    simply surfaces the error per message, main.go:329-341).  Python
    path only; the JVM path inherits from_protobuf's own mode.

    ``project``: dotted field paths ('imp.banner.w', 'user.id',
    'timestamp') — decoder-level projection pushdown.  mapInArrow is
    opaque to Catalyst's column pruning, so without this a downstream
    10-field consumer pays full 22-message decode + conversion; with it,
    a decoder compiled for the pruned spec skips every other field at
    wire speed (length jump, no parse/alloc) and the output schema is
    exactly the pruned struct.  Python path only (protobuf descriptors
    can't do partial decode).
    """
    if confluent_prefix:
        df = strip_confluent_prefix_col(df)

    if use_jvm is None:
        use_jvm = desc_path is not None and jvm_protobuf_available(df.sparkSession)

    if use_jvm:
        if desc_path is None:
            raise ValueError("JVM decode path needs a protobuf descriptor file")
        from pyspark.sql.protobuf.functions import from_protobuf

        value = F.col("value")
        if ts_suffix:
            value = F.expr("substring(value, 1, length(value) - 8)")
        out = df.select(
            from_protobuf(value, message_name, descFilePath=desc_path).alias("r"),
            F.unix_millis(F.col("timestamp")).alias("event_tm"),
        )
        return out.select("r.*", "event_tm")

    # --- Python wire-format path (Arrow-batched, codegen columnar decoder) ---
    has_ts = "timestamp" in df.columns
    src = df
    if has_ts and not ts_suffix:
        src = src.withColumn("_ts_ms", F.unix_millis(F.col("timestamp")))
    cols = ["value"] + (["_ts_ms"] if (has_ts and not ts_suffix) else [])
    src = src.select(*cols)

    if project is None:
        out_schema = BIDREQUEST_SCHEMA
    else:
        from ..schema import struct_of
        from .columnar import prune_spec
        from .wire import BIDREQUEST_SPEC

        out_schema = T.StructType(
            list(struct_of(prune_spec(BIDREQUEST_SPEC, project)).fields)
            + [T.StructField("event_tm", T.LongType())]
        )
    proj_key = tuple(sorted(project)) if project else None

    def _decode_batches(batches):
        import gc
        import struct

        import pyarrow as pa

        from pyspark.sql.pandas.types import to_arrow_type

        from .columnar import columnar_decoder_for

        # Lazy strings (bytes + one C-side utf8-validating cast per column)
        # only when NOT permissive: permissive must fail per record so
        # append_record's rollback drops exactly the bad frame.
        dec = columnar_decoder_for(proj_key, eager_strings=permissive)
        read_ts = struct.Struct("<Q").unpack_from
        arrow_schema = pa.schema(
            [pa.field(f.name, to_arrow_type(f.dataType)) for f in out_schema.fields]
        )
        # decoder covers the payload fields; event_tm rides beside
        payload_struct = pa.struct([f for f in arrow_schema if f.name != "event_tm"])
        for batch in batches:
            vals = batch.column("value").to_pylist()
            names = batch.schema.names
            ts_list = batch.column("_ts_ms").to_pylist() if "_ts_ms" in names else None
            gc_was_on = gc.isenabled()
            gc.disable()
            try:
                append = dec.append_record
                tms = []
                for i, raw in enumerate(vals):
                    b = raw if isinstance(raw, bytes) else bytes(raw)
                    try:
                        if ts_suffix:
                            e = len(b) - 8
                            ms = read_ts(b, e)[0]
                            append(b, 0, e)
                        else:
                            ms = int(ts_list[i]) if ts_list is not None else 0
                            append(b, 0, len(b))
                    except Exception:
                        if permissive:
                            continue  # drop the malformed record (rolled back)
                        raise
                    tms.append(ms)
                arrays = dec.finish(payload_struct)
                arrays.append(pa.array(tms, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)
            finally:
                if gc_was_on:
                    gc.enable()

    return src.mapInArrow(_decode_batches, schema=out_schema)


_CONFLUENT_STUB = b"\x00\x00\x00\x00\x00\x01"


def encode_bidrequests(
    bidreq: DataFrame,
    *,
    confluent_prefix: bool = True,
    ts_suffix: bool = True,
) -> DataFrame:
    """Inverse of decode_bidrequests: BIDREQUEST_SCHEMA rows -> framed
    Kafka-record shape (value binary, timestamp).  Exists for replay /
    test harnesses (the reference is a consumer, not a producer); with
    decode it forms the oracle-checked round-trip proving the wire
    codec is lossless over real fixture data."""

    def _encode_batches(batches):
        import pandas as pd

        for pdf in batches:
            vals, ts_ms = [], []
            for rec in pdf.to_dict("records"):
                event_tm = int(rec.pop("event_tm", 0) or 0)
                payload = encode_bidrequest(rec)
                if ts_suffix:
                    payload = append_ts_suffix(payload, event_tm)
                if confluent_prefix:
                    payload = _CONFLUENT_STUB + payload
                vals.append(payload)
                ts_ms.append(event_tm)
            yield pd.DataFrame({"value": vals, "ts_ms": ts_ms})

    out = bidreq.mapInPandas(_encode_batches, schema="value binary, ts_ms long")
    return out.select("value", F.timestamp_millis(F.col("ts_ms")).alias("timestamp"))
