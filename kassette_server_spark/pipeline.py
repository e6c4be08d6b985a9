"""Batch pipeline graph: the reference's gateway→processor→router event
path as one declarative DataFrame transform per connection.

Stages (SURVEY §2.1 operator ids):
  T1 parse_envelope   — payload JSON → exploded per-event rows
  T2 synthesize_identity — kassetteId md5-uuid, messageId backfill,
                        non-identifiable rejection
  T3 (envelope enrichment happens at ingest: writeKey/requestIP/
      receivedAt stamped by the gateway shim — here they're columns)
  T4 correct_timestamp_skew — ts = receivedAt − (sentAt − originalTs)
  T5 fanout_connections — one output row per enabled connection
  T6-T10 transform_for_connection — source cast → rules → dest cast
  T11 wrap_batch_payload — {"payload":[...]} shape for REST sinks

Events ride as ``map<string,variant>`` — VariantType preserves the
JSON runtime types the reference's converters dispatch on, while
keeping every operation JVM-side and columnar. The per-connection
transform compiles the config ONCE into typed columns (the 100 TB
path: no per-row schema interpretation, full whole-stage codegen).

Reference: processor/processor.go:140-344 (flow),
processor/transformer.go:71-190 (transform), gateway/gateway.go:884-
1147 (envelope/identity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import convert
from .config import Connection
from .rules import compile_rules, delete_predicate

ENVELOPE_SCHEMA = (
    "struct<batch: array<map<string,variant>>, writeKey: string,"
    " requestIP: string, receivedAt: string, type: string>"
)

RFC3339_MILLI = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


# -- T1 ----------------------------------------------------------------------
def parse_envelope(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Envelope JSON → one row per event (misc/misc.go:114-129
    ParseKassetteEventBatch + processor explode). Rows whose payload
    has no parseable batch array are dropped, like the reference's
    ``ok=false`` path."""
    env = F.from_json(F.col(payload_col), ENVELOPE_SCHEMA)
    # No explicit ``batch IS NOT NULL`` filter: the non-outer posexplode
    # below already emits ZERO rows for a null (or empty) batch array,
    # so the filter never changed the output — and it was actively
    # harmful: Catalyst pushes filters through exchanges, so a caller
    # that repartitions the raw input saw the full to_json→from_json
    # round trip DUPLICATED below the exchange and evaluated serially
    # on the (often single-task) scan stage just to test a condition
    # the generator enforces anyway (q28: 1.57 s single-task stage →
    # scan+shuffle only).
    return (
        df.withColumn("_env", env)
        .select(
            "*",
            F.col("_env.writeKey").alias("write_key"),
            F.col("_env.requestIP").alias("request_ip"),
            F.col("_env.receivedAt").alias("received_at_raw"),
            F.posexplode(F.col("_env.batch")).alias("batch_index", "event"),
        )
        .drop("_env", payload_col)
    )


# -- T2 ----------------------------------------------------------------------
def md5_uuid(s: Column) -> Column:
    """md5(s) formatted as a v4/RFC4122 uuid — misc/misc.go:91-111:
    byte6 high nibble → 4, byte8 high nibble → 8|9|a|b (variant bits).
    Pure string surgery over the hex digest."""
    h = F.md5(s)
    b6 = F.lit("4")  # (b6 & 0x0f) | 0x40 → high nibble '4'
    n17 = F.conv(F.substring(h, 17, 1), 16, 10).cast("int")
    b8 = F.substring(F.lit("89ab"), (n17 % 4) + 1, 1)
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.concat(b6, F.substring(h, 14, 3)),
        F.concat(b8, F.substring(h, 18, 3)),
        F.substring(h, 21, 12),
    )


def _event_str(event: Column, key: str) -> Column:
    return F.try_variant_get(event[key], "$", "string")


def synthesize_identity(
    df: DataFrame,
    event_col: str = "event",
    allow_without_ids: bool = False,
    message_id_expr: Column | None = None,
) -> DataFrame:
    """kassetteId = md5-uuid(userId ':' anonymousId); random messageId
    when blank; reject events with neither id unless type == 'extract'
    or the config override (gateway/gateway.go:944-951, 1058-1084).

    ``message_id_expr`` lets tests inject a deterministic generator in
    place of uuid().
    """
    ev = F.col(event_col)
    user_id = F.coalesce(_event_str(ev, "userId"), F.lit(""))
    anon_id = F.coalesce(_event_str(ev, "anonymousId"), F.lit(""))
    ev_type = F.coalesce(_event_str(ev, "type"), F.lit(""))
    non_identifiable = (
        (ev_type != "extract") & (user_id == "") & (anon_id == "") & F.lit(not allow_without_ids)
    )
    msg = F.coalesce(
        F.nullif(F.trim(_event_str(ev, "messageId")), F.lit("")),
        message_id_expr if message_id_expr is not None else F.expr("uuid()"),
    )
    return (
        df.filter(~non_identifiable)
        .withColumn("kassette_id", md5_uuid(F.concat(user_id, F.lit(":"), anon_id)))
        .withColumn("message_id", msg)
        .withColumn("user_id", user_id)
        .withColumn("anonymous_id", anon_id)
        .withColumn("event_type", ev_type)
    )


# -- T4 ----------------------------------------------------------------------
_TOLERANT_FORMATS = (
    RFC3339_MILLI,
    "yyyy-MM-dd'T'HH:mm:ss'Z'",
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def tolerant_timestamp(s: Column, fallback: Column) -> Column:
    """Approximation of the reference's dateparse.ParseAny with
    fallback-to-now (processor/processor.go:329-344). The fallback
    clock is injectable so tests stay deterministic."""
    return F.coalesce(
        *[F.try_to_timestamp(s, F.lit(fmt)) for fmt in _TOLERANT_FORMATS], fallback
    )


def correct_timestamp_skew(
    df: DataFrame, event_col: str = "event", clock: Column | None = None
) -> DataFrame:
    """timestamp = receivedAt − (sentAt − originalTimestamp)
    (processor/processor.go:194-205): client clock skew cancels because
    (receivedAt − sentAt) is measured on mixed clocks but
    (sentAt − originalTimestamp) is pure client time."""
    clock = clock if clock is not None else F.current_timestamp()
    ev = F.col(event_col)
    orig = tolerant_timestamp(_event_str(ev, "originalTimestamp"), clock)
    sent = tolerant_timestamp(_event_str(ev, "sentAt"), clock)
    received = tolerant_timestamp(F.col("received_at_raw"), clock)
    # event_ts references the three staged COLUMNS, not fresh copies of
    # the parse chains: inlining them doubled every 6-format
    # try_to_timestamp coalesce in the analyzed tree (the q226 staging
    # trick from drift.py — same results, half the plan to analyze).
    return (
        df.withColumn("original_ts", orig)
        .withColumn("sent_ts", sent)
        .withColumn("received_ts", received)
        .withColumn(
            "event_ts",
            F.timestamp_micros(
                F.unix_micros(F.col("received_ts"))
                - (F.unix_micros(F.col("sent_ts")) - F.unix_micros(F.col("original_ts")))
            ),
        )
    )


# -- T5 ----------------------------------------------------------------------
def fanout_connections(df: DataFrame, connections: list[Connection]) -> DataFrame:
    """One row per (event, enabled connection) — the job Parameters
    connection_id fan-out (processor/processor.go:171-214). Disabled
    connections are skipped. Config is a literal array (broadcast-
    equivalent: it ships inside the plan, never shuffled)."""
    ids = [c.id for c in connections if c.enabled]
    return df.withColumn("connection_id", F.explode(F.array(*[F.lit(i) for i in ids])))


# -- T6-T10 ------------------------------------------------------------------
def transform_for_connection(df: DataFrame, conn: Connection, event_col: str = "event") -> DataFrame:
    """Compile one connection's (source schema, rules, dest schema)
    into a typed projection: source cast (fail ⇒ field absent) → rules
    (rename / hide / event-delete) → dest cast (fail ⇒ null).

    Output columns: one typed column per emitted dest field, plus
    ``_present_<field>`` booleans carrying the reference's per-row
    field-absence semantics (consumed by wrap/JSON egress; structured
    sinks collapse absent → null, documented divergence).
    """
    ev = F.col(event_col)
    src_schema = conn.source.schema
    dest_schema = conn.destination.schema
    rules = compile_rules(conn.transforms)

    # --- source cast: original key -> (typed value, ok, spark dtype)
    src_fields: dict[str, tuple[Column, Column, str]] = {}
    if src_schema.empty:
        if not conn.source.skip_with_no_schema:
            # passthrough: values stay variant (processor/transformer.go:89-96)
            for f in dest_schema.fields:
                name = f.name
                # reverse-rename: dest field name ← original key
                orig = next((o for o, t in rules.renames.items() if t == name), name)
                src_fields[orig] = (ev[orig], ev[orig].isNotNull(), "variant")
        # skip_with_no_schema=True → nothing survives
    else:
        for f in src_schema.fields:
            go_type = convert.TYPE_MAP_SOURCE.get(f.type)
            if go_type is None:
                continue  # unknown kassette type → field dropped
            val, ok = convert.convert_source(ev[f.name], go_type)
            dtype = {
                "int": "bigint",
                "int64": "bigint",
                "float64": "double",
                "float32": "double",
                "bool": "boolean",
                "string": "string",
                "number": "double",
                "datetime": "timestamp",
                "date": "timestamp",
            }[go_type]
            missing = ev[f.name].isNull()  # key absent from event
            src_fields[f.name] = (val, ok & ~missing, dtype)

    # --- field_delete: any field's converted value matches any rule value
    delete = F.lit(False)
    for rule_value in rules.delete_values:
        for _name, (val, ok, dtype) in src_fields.items():
            delete = delete | delete_predicate(val, dtype, ok, rule_value)
    out = df.filter(~delete)

    # --- rename + hide, then dest cast
    dest_map = convert.DEST_TYPE_MAPS.get(conn.destination.dest_type, {})
    cols: list[Column] = []
    for orig, (val, ok, dtype) in src_fields.items():
        if orig in rules.hidden:
            continue
        final = rules.renames.get(orig, orig)
        if dest_schema.empty:
            if conn.destination.skip_with_no_schema:
                continue  # nothing emitted (processor/processor.go:254-257)
            cols.append(F.when(ok, val).alias(final))
            cols.append(ok.alias(f"_present_{final}"))
            continue
        dest_ktype = dest_schema.type_of(final)
        if dest_ktype is None:
            continue  # not in dest schema → dropped (transformer.go:162-170)
        go_type = dest_map.get(dest_ktype)
        if go_type is None:
            continue  # unknown dest kassette type → dropped
        if dtype == "variant":
            dval, dok = _variant_dest_convert(val, go_type)
        else:
            dval, dok = convert.convert_dest(val, dtype, go_type)
        # src fail → absent; dest fail → null (transformer.go:168-173)
        cols.append(F.when(ok & dok, dval).alias(final))
        cols.append(ok.alias(f"_present_{final}"))
    return out.select("*", *cols)


def _variant_dest_convert(v: Column, go_type: str) -> tuple[Column, Column]:
    """Dest conversion for passthrough (no source schema) values —
    runtime dispatch on the variant type, like the Go dest converters
    receiving raw interface{} values."""
    if go_type in ("int", "int64"):
        return convert.to_int(v)
    if go_type in ("float64", "float32", "number"):
        return convert.to_float(v)
    if go_type == "bool":
        return convert.to_bool(v)
    if go_type == "string":
        return convert.to_string(v)
    # datetime/date: Go would type-assert time.Time on a raw JSON value
    # and panic; we fail the conversion → null
    return F.lit(None).cast("string"), F.lit(False)


# -- T11 ---------------------------------------------------------------------
def wrap_batch_payload(df: DataFrame, dest_fields: list[str]) -> DataFrame:
    """Per-event JSON honoring per-row field absence (src-fail ⇒ key
    omitted, dest-fail ⇒ explicit null), then {"payload":[...]} per
    micro-batch group (integrations/types.go:14-16 BatchPayloadT).

    JSON fragments are built with to_json per field so escaping is
    correct, assembled with array_compact — all JVM-side.
    """
    frags = []
    for name in dest_fields:
        j = F.to_json(F.struct(F.col(name).alias(name)))
        body = F.substring(j, 2, F.length(j) - 2)
        frag = (
            F.when(~F.col(f"_present_{name}"), F.lit(None))
            .when(F.col(name).isNull(), F.lit(f'"{name}":null'))
            .otherwise(body)
        )
        frags.append(frag)
    event_json = F.concat(F.lit("{"), F.concat_ws(",", F.array_compact(F.array(*frags))), F.lit("}"))
    return df.withColumn("event_json", event_json)
