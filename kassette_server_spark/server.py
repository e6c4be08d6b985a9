"""The composed server: the reference's whole topology in one object.

A user of the reference runs ONE process that exposes an HTTP ingest
gateway and a config control plane, and keeps a delivery pipeline per
configured connection (main.go + gateway/gateway.go + backendconfig +
processor + router). This module is the Spark-native equivalent,
assembled entirely from pieces that are individually tested elsewhere:

    HTTP gateway (sources/http_listener + gateway shim: write-key
        auth, envelope enrichment, request batching)
      → JSONL landing zone (the durable hand-off; a Kafka topic at
        scale — the engine contract is only the landed shape)
      → one Structured Streaming query per connection
        (streaming/pipeline.run_connection_stream: the transform is
        planned once per query start; each micro-batch runs ledger +
        in-batch dedup once into a local checkpoint → deliver → one
        outcome-ledger append)
      → destination senders (REST / JDBC / Postgres COPY / files)

    config control plane (sources/config_api: CRUD + /health)
      → StreamingSupervisor (streaming/supervisor): config diffs stop
        removed/changed queries and (re)start from checkpoints.

``deliver_factory`` injects the per-connection sender; the default
lands delivered events as JSON files under ``work_dir/delivered/<conn
id>/`` (one content-addressed file per micro-batch — idempotent under
replay, driver-materialized at gateway-batch scale) so the composed
server runs end-to-end with zero external services. Production configs
plug in sinks.rest.deliver_rest / sinks.jdbc.write_jdbc /
sinks.postgres_copy.write_postgres_copy_dest — each is the already-
tested K-path; the factory only chooses by ``dest_type``.

Run standalone: ``python -m kassette_server_spark --work-dir /tmp/ks``
(prints both addresses; Ctrl-C stops). The e2e test
(tests/test_server_composed.py) boots the whole object in-process,
POSTs config over HTTP, POSTs events over HTTP, and reads them back
from the destination.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import Connection
from .sources.config_api import ConfigAPI, ConfigStore
from .sources.gateway import GatewayShim
from .sources.http_listener import IngestListener
from .streaming.ledger import DeliveryLedger, job_health
from .streaming.supervisor import StreamingSupervisor, connection_stream_starter


def default_deliver_factory(work_dir: str):
    """Per-connection sender: JSON files under work_dir/delivered/<id>
    (swap for REST/JDBC/COPY senders via KassetteServer(deliver_factory=...)).

    IDEMPOTENT by content-addressing (round-7 churn-soak finding): a
    query stopped (config disable) or crashed BETWEEN delivering and
    appending the ledger rows replays the whole micro-batch on restart
    — the ledger can't dedup what it never recorded, so an append-mode
    sink duplicated rows. Writing each batch as ONE atomically-renamed
    file named by the md5 of its (sorted) content makes the replay
    overwrite the identical file instead: at-least-once replay +
    idempotent sink = the exactly-once the module docstring promises.
    Driver-side materialization is micro-batch-sized (the gateway's
    32/2000ms batches) — this is the dev/file destination; production
    paths (postgres COPY, REST) dedup via destination keys/ledger."""
    import hashlib

    def factory(conn: Connection):
        out_dir = os.path.join(work_dir, "delivered", str(conn.id))

        def deliver(df: DataFrame) -> DataFrame:
            rows = sorted(df.toJSON().collect())
            if rows:
                digest = hashlib.md5("\n".join(rows).encode()).hexdigest()
                os.makedirs(out_dir, exist_ok=True)
                name = f"batch-{digest}.json"
                tmp = os.path.join(out_dir, "." + name + ".tmp")
                with open(tmp, "w") as f:
                    f.write("\n".join(rows) + "\n")
                os.rename(tmp, os.path.join(out_dir, name))
            return df.select(
                "message_id",
                F.lit(True).alias("delivered"),
                F.lit(200).alias("status"),
                F.lit("").alias("error"),
            )

        return deliver

    return factory


def dispatching_deliver_factory(work_dir: str, parallel_copy: bool = False):
    """Production-shaped sender dispatch: a postgres destination with
    connection config gets the real K3 path; anything else falls back
    to the JSON-file sender.

    K3 semantics (round-6 self-review hardening):

    - Connect-time DDL runs LAZILY on the first delivered batch (with a
      subprocess timeout), not at query start — at query start the
      factory is called inside the config store's commit lock, where an
      unreachable database would wedge the whole control plane and a
      DDL failure would strand a committed-but-never-started
      connection. On the first batch, a DDL failure just marks the
      batch failed, and the ledger's retry ladder re-runs it.
    - The DDL renderer is chosen by identifier case: all-lowercase
      names take the reference's byte-exact unquoted DDL (Postgres
      folds unquoted to lowercase — same relation the quoted COPY
      targets); any mixed-case name takes the quoted engine renderer so
      CREATE and COPY agree on the case-preserved relation.
    - Commit boundary DEFAULTS to the reference's whole-batch
      transaction (integrations/postgres/main.go:108-151): the batch is
      coalesced to ONE partition so a failure commits nothing and the
      ledger's whole-batch retry cannot duplicate rows (ADVICE r6 #3).
      Micro-batches are gateway-batch sized, so one COPY stream is the
      right default. ``parallel_copy=True`` opts into per-partition
      COPY transactions (one each, like Spark's own JDBC sink) for
      bulk backfills against destinations with a primary key /
      ON CONFLICT dedup, where partial-commit + whole-batch retry is
      idempotent and the parallel stream wins.
    """
    import subprocess

    from .sinks.jdbc import render_postgres_ddl, render_postgres_ddl_reference
    from .sinks.postgres_copy import psql_args_from_dest, write_postgres_copy_dest

    file_factory = default_deliver_factory(work_dir)

    def factory(conn: Connection):
        dest = conn.destination
        if dest.dest_type != "postgres" or not dest.config.get("host"):
            return file_factory(conn)

        names = [dest.schema.table_name, *(f.name for f in dest.schema.fields)]
        if all(n == n.lower() for n in names):
            ddl = render_postgres_ddl_reference(dest.schema)
        else:  # quoted DDL so CREATE and the quoted COPY name agree
            ddl = render_postgres_ddl(dest.schema) + ";"
        fields = [f.name for f in dest.schema.fields]
        ddl_done = False

        def deliver(df: DataFrame) -> DataFrame:
            nonlocal ddl_done
            try:
                if not ddl_done:
                    p = subprocess.run(
                        [*psql_args_from_dest(dest), "-v", "ON_ERROR_STOP=1",
                         "-X", "-c", ddl],
                        capture_output=True, text=True, timeout=30,
                    )
                    if p.returncode != 0:
                        raise RuntimeError(
                            f"destination DDL failed: {p.stderr.strip()[:300]}"
                        )
                    ddl_done = True
                present = [c for c in fields if c in df.columns]
                out = df.select(*present)
                if not parallel_copy:
                    # reference whole-batch transaction: one partition
                    # → one COPY → all-or-nothing commit
                    out = out.coalesce(1)
                write_postgres_copy_dest(out, dest)
                ok, status, err = True, 200, ""
            except Exception as e:  # whole batch reported failed as one unit
                ok, status, err = False, 500, str(e)[:200]
            return df.select(
                "message_id",
                F.lit(ok).alias("delivered"),
                F.lit(status).alias("status"),
                F.lit(err).alias("error"),
            )

        return deliver

    return factory


class KassetteServer:
    """Boot/stop the composed topology; see module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        write_keys: frozenset[str],
        host: str = "127.0.0.1",
        gateway_port: int = 0,
        config_port: int = 0,
        config_path: str | None = None,
        deliver_factory=None,
        available_now: bool = False,
    ):
        self.spark = spark
        self.work_dir = work_dir
        self.landing = os.path.join(work_dir, "landing")
        os.makedirs(self.landing, exist_ok=True)
        self.ledger = DeliveryLedger(spark, os.path.join(work_dir, "ledger"))
        factory = deliver_factory or default_deliver_factory(work_dir)
        self.supervisor = StreamingSupervisor(
            start=connection_stream_starter(
                spark,
                source_dir_for=lambda conn: self.landing,
                checkpoint_root=os.path.join(work_dir, "ckpt"),
                ledger=self.ledger,
                deliver_for=factory,
                available_now=available_now,
            )
        )
        # compaction must never race a live stream: the ledger refuses
        # to compact while the supervisor reports activity (the boot
        # call in start() runs before start_all, so it always passes)
        self.ledger.activity_probe = self.supervisor.busy_reason
        self.store = ConfigStore(
            path=config_path or os.path.join(work_dir, "config.json"),
            on_change=self.supervisor.apply,
        )
        # write-key auth consults BOTH the static bootstrap keys and the
        # LIVE config store, so a source created at runtime through the
        # control plane can ingest immediately (round-6 self-review
        # finding: a frozen set rejected runtime-created sources forever)
        class _LiveKeys:
            def __init__(inner, static, store):
                inner._static = frozenset(static)
                inner._store = store

            def __contains__(inner, key) -> bool:
                return key in inner._static or inner._store.authenticate(key)

        self.gateway = GatewayShim(
            self.landing, valid_write_keys=_LiveKeys(write_keys, self.store)
        )
        health_fn = lambda: [  # noqa: E731 — shared by both surfaces
            r.asDict()
            for r in job_health(
                self.ledger, list(self.store.connections().values())
            ).collect()
        ]
        # the gateway port serves ingest AND config (the reference runs
        # ONE gin server for both — gateway/gateway.go:324-610); the
        # separate config port remains for split deployments
        self.ingest = IngestListener(
            self.gateway,
            host=host,
            port=gateway_port,
            config_store=self.store,
            job_health=health_fn,
        )
        self.config_api = ConfigAPI(
            self.store,
            host=host,
            port=config_port,
            job_health=health_fn,
        )

    # -- lifecycle ----------------------------------------------------------
    def start(self, compact_ledger: bool = True) -> "KassetteServer":
        if compact_ledger:
            # boot is the guaranteed-quiescent moment (no streams yet):
            # fold the append-only status history down to latest rows so
            # a long-lived deployment's dedup reads stay bounded —
            # mirroring the reference's compaction cadence
            # (jobs/jobsdb.go:1084)
            # (a fresh/empty ledger compacts to an empty table — fine;
            # a genuinely corrupt one should fail HERE, loudly, not on
            # the first micro-batch's dedup read)
            self.ledger.compact()
        self.supervisor.start_all(self.store.connections())
        self.ingest.start()
        self.config_api.start()
        return self

    def tick(self) -> None:
        """Flush the gateway batch buffer on its timeout (the reference
        flushes on maxBatchSize OR batchTimeoutInMS; size-triggered
        flushes happen inside accept())."""
        self.ingest.flush()

    def stop(self) -> None:
        self.ingest.stop()
        self.config_api.stop()
        self.supervisor.stop_all()

    # -- addresses ----------------------------------------------------------
    @property
    def gateway_address(self) -> str:
        return self.ingest.address

    @property
    def config_address(self) -> str:
        return self.config_api.address


def main(argv: list[str] | None = None) -> None:
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description="kassette_server_spark composed server")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--gateway-port", type=int, default=8080)
    ap.add_argument("--config-port", type=int, default=8081)
    ap.add_argument("--write-key", action="append", default=[], help="repeatable")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="kassette-server")
    srv = KassetteServer(
        spark,
        args.work_dir,
        write_keys=frozenset(args.write_key or ["dev-key"]),
        host=args.host,
        gateway_port=args.gateway_port,
        config_port=args.config_port,
        # standalone runs get the production-shaped dispatch: configured
        # postgres destinations take the real COPY path, others land files
        deliver_factory=dispatching_deliver_factory(args.work_dir),
    ).start()
    print(f"gateway:     {srv.gateway_address}")
    print(f"config API:  {srv.config_address}")
    try:
        while True:
            time.sleep(0.5)
            srv.tick()
    except KeyboardInterrupt:
        pass
    finally:
        srv.stop()
        spark.stop()


if __name__ == "__main__":
    main()
