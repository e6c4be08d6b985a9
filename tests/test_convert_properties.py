"""Randomized property test: the Spark coercion expressions must agree
with a direct Python model of the Go converters
(sources/camunda/transformer.go:11-104) over hundreds of generated
JSON values — all evaluated in ONE DataFrame pass."""

from __future__ import annotations

import json
import random
import re

from pyspark.sql import functions as F

from kassette_server_spark import convert

INT_RE = re.compile(r"^[+-]?[0-9]+$")
TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z$")


# ---- Python model of the Go converters (the executable spec) ----------------


def go_to_int(v):
    if isinstance(v, bool):
        return (1 if v else 0), True
    if isinstance(v, (int, float)):
        return int(v), True  # truncation toward zero
    if isinstance(v, str):
        # strconv.ParseInt fails on int64 overflow — the field is
        # dropped (ok=false), not silently nulled
        if INT_RE.match(v) and -(2**63) <= int(v) < 2**63:
            return int(v), True
        return None, False
    return None, False


def go_to_float(v):
    if isinstance(v, bool):
        return (1.0 if v else 0.0), True
    if isinstance(v, (int, float)):
        return float(v), True
    if isinstance(v, str):
        try:
            return float(v), True
        except ValueError:
            return None, False
    return None, False


def go_to_bool(v):
    if isinstance(v, bool):
        return v, True
    if isinstance(v, str):
        return v == "true", True
    return None, False


def go_to_datetime_ok(v):
    return isinstance(v, str) and TS_RE.match(v) is not None


# ---- generators -------------------------------------------------------------


def gen_value(rng: random.Random):
    kind = rng.randrange(8)
    if kind == 0:
        return rng.randint(-(10**9), 10**9)
    if kind == 1:
        return round(rng.uniform(-1e6, 1e6), rng.randint(0, 6))
    if kind == 2:
        return rng.choice([True, False])
    if kind == 3:
        return rng.choice(["true", "false", "True", "yes", ""])
    if kind == 4:
        return str(rng.randint(-(10**6), 10**6))
    if kind == 5:
        return rng.choice(
            ["12.5", "1e3", "abc", "+42", " 7", "7 ", "0x1f",
             "99999999999999999999", "-99999999999999999999",  # BIGINT overflow
             "9223372036854775807", "-9223372036854775808"]  # int64 bounds
        )
    if kind == 6:
        return rng.choice(
            [
                "2024-03-04T05:06:07.123Z",
                "2024-03-04T05:06:07Z",
                "2024-03-04 05:06:07",
                "not-a-date",
            ]
        )
    return None


def test_coercions_match_go_model(spark):
    rng = random.Random(42)
    values = [gen_value(rng) for _ in range(400)]
    payloads = [(i, json.dumps({"v": v})) for i, v in enumerate(values)]
    df = spark.createDataFrame(payloads, "i long, payload string")
    ev = F.from_json("payload", "map<string,variant>")["v"]
    iv, iok = convert.to_int(ev)
    fv, fok = convert.to_float(ev)
    bv, bok = convert.to_bool(ev)
    tv, tok = convert.to_datetime_src(ev)
    got = {
        r.i: r
        for r in df.select(
            "i",
            iv.alias("iv"), iok.alias("iok"),
            fv.alias("fv"), fok.alias("fok"),
            bv.alias("bv"), bok.alias("bok"),
            tok.alias("tok"),
        ).collect()
    }
    for i, v in enumerate(values):
        r = got[i]
        if v is None:
            assert not (r.iok or r.fok or r.bok or r.tok), (i, v)
            continue
        ev_i, ok_i = go_to_int(v)
        assert bool(r.iok) == ok_i, (i, v, r.iok)
        if ok_i:
            assert r.iv == ev_i, (i, v, r.iv, ev_i)
        ev_f, ok_f = go_to_float(v)
        # Spark try_cast accepts a few spellings Go ParseFloat also
        # accepts; strings with spaces: Go rejects ' 7' — Spark trims.
        # The generator includes them to document the divergence: skip
        # exact-ok compare for whitespace-padded strings.
        if not (isinstance(v, str) and v.strip() != v):
            assert bool(r.fok) == ok_f, (i, v, r.fok)
            if ok_f and ev_f is not None:
                assert abs(r.fv - ev_f) < 1e-9 or r.fv == ev_f, (i, v)
        ev_b, ok_b = go_to_bool(v)
        assert bool(r.bok) == ok_b, (i, v)
        if ok_b:
            assert r.bv == ev_b, (i, v)
        assert bool(r.tok) == go_to_datetime_ok(v), (i, v)


def test_functions_namespace_importable(spark):
    from kassette_server_spark import functions as KF

    df = spark.createDataFrame([("u:a",)], ["s"])
    out = df.select(KF.md5_uuid(F.col("s")).alias("u")).collect()[0].u
    assert len(out) == 36 and out[14] == "4"
