"""Small engine utilities mirroring the reference's misc/service layer."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_key(customer_name: Column | str, secret_key: Column | str) -> Column:
    """M5 GenerateWriteKey: md5(customer_name '_' secret_key)
    (misc/misc.go:299-302). Authentication = equality lookup against
    the config's write keys (backendconfig/configdb.go:565-591)."""
    c = F.lit(customer_name) if isinstance(customer_name, str) else customer_name
    s = F.lit(secret_key) if isinstance(secret_key, str) else secret_key
    return F.md5(F.concat(c, F.lit("_"), s))


def authenticate(df: DataFrame, valid_write_keys: list[str], key_col: str = "write_key") -> DataFrame:
    """Filter a batch to rows bearing a known write key (gateway auth,
    gateway/gateway.go:656-693). At scale the key set is tiny →
    isin compiles to a broadcast-free IN filter at the scan."""
    return df.filter(F.col(key_col).isin(*valid_write_keys))


def with_counters(df: DataFrame, name: str) -> DataFrame:
    """M4 counters via observable metrics: attach an `observe` node
    whose results surface in QueryExecutionListener /
    StreamingQueryListener events — the go-metrics gauge analogue
    (services/stats.go:40-68) without a second pass over the data."""
    return df.observe(name, F.count(F.lit(1)).alias("rows"))
