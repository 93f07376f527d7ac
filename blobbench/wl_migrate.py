"""migrate_bulk: one operation is a full migration of a seeded legacy
table ``(seq, order_id, description, order_blob)`` held in embedded
Derby into a fresh target: ``sources.jdbc.JdbcSource`` (range-
partitioned on ``seq``, one partition per core) → ``externalize_blobs``
→ manifest → ``pointer_table`` → ``validate_migration``.

Blob sizes are log-normal with a tail toward the reference's ~1 MB
records, plus one row over the 10 MB cap that must be rejected.

Why: this is the paper's purpose. Bytes dominate, so ``blob_pipeline``,
``object_store`` and ``jdbc`` changes show up here. Derby runs inside
the driver JVM and shares its cores.
"""

from __future__ import annotations

import os
import shutil

from . import gen, harness

DERBY = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
N_ROWS = 400
MEDIAN_BYTES = 24 * 1024
SIGMA = 1.4
N_OVERSIZE = 1
#: nominal seconds per migration on a 4-core host; ``--seconds`` / this
#: is the fixed number of timed migrations
OP_S = 1.7


class Workload:
    # migration times keep falling for 10+ migrations, and for longer
    # while the host is busy, so the plateau test starts late
    WARM_MIN, WARM_MAX = 10, 14

    def __init__(self, ctx):
        self.ctx = ctx
        self.url = f"jdbc:derby:{ctx.work}/db/legacy;create=true"
        self.n_ops = max(2, round(ctx.seconds / OP_S))
        self.serial = 0
        self.last = {}
        self.tracer = harness.Tracer(False)

    def load(self) -> None:
        from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.jdbc import JdbcSource

        seed = self.ctx.seed
        self.sizes = gen.legacy_sizes(
            seed, N_ROWS, MEDIAN_BYTES, SIGMA, N_OVERSIZE, harness.nproc()
        )
        rows = [gen.legacy_row(seed, i + 1, s) for i, s in enumerate(self.sizes)]
        self.md5 = {r[1]: gen.md5(r[3]) for r in rows}
        self.oversize = {r[1] for r in rows if len(r[3]) > gen.MAX_OBJECT_BYTES}
        self._load_derby(rows)
        self.source = JdbcSource(
            url=self.url.replace(";create=true", ""),
            table="legacy_orders",
            driver=DERBY,
            partition_column='"seq"',
            num_partitions=harness.nproc(),
        )
        self.source_bytes = sum(
            len(r[1]) + len(r[2]) + len(r[3]) + 8 for r in rows
        )
        self.payload_bytes = sum(
            s for s in self.sizes if s <= gen.MAX_OBJECT_BYTES
        )

    def _load_derby(self, rows) -> None:
        """Create and fill the legacy table over plain JDBC in the driver
        JVM (batched inserts, one commit), so the run's first Spark work
        is the cold first migration that ``setup_s`` times."""
        jvm = self.ctx.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            conn.setAutoCommit(False)
            conn.createStatement().execute(
                'CREATE TABLE legacy_orders ("seq" BIGINT, "order_id" VARCHAR(40), '
                '"description" VARCHAR(30), "order_blob" BLOB)'
            )
            ins = conn.prepareStatement("INSERT INTO legacy_orders VALUES (?, ?, ?, ?)")
            for seq, oid, desc, blob in rows:
                ins.setLong(1, seq)
                ins.setString(2, oid)
                ins.setString(3, desc)
                ins.setBytes(4, blob)
                ins.addBatch()
            ins.executeBatch()
            conn.commit()
        finally:
            conn.close()

    def _migrate(self, target: str) -> dict:
        """One full migration into ``target``; returns what the checks need."""
        from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import blob_pipeline

        spark = self.ctx.spark
        tr = self.tracer
        store_url = f"file://{target}/objects"
        legacy = self.source.load(spark, 1, N_ROWS)
        with tr.span("blob_pipeline.externalize"):
            blob_pipeline.externalize_blobs(legacy, store_url).write.mode(
                "overwrite"
            ).parquet(f"{target}/manifest")
        with tr.span("blob_pipeline.pointer_write"):
            blob_pipeline.pointer_table(legacy).write.mode("overwrite").parquet(
                f"{target}/pointers"
            )
        with tr.span("blob_pipeline.validate"):
            manifest = spark.read.parquet(f"{target}/manifest")
            report = blob_pipeline.validate_migration(legacy, manifest, store_url)
        return report

    def _check(self, target: str, report: dict) -> bool:
        import pyarrow.parquet as pq

        counters_ok = (
            report["n_rows"] == N_ROWS
            and report["rejected_oversize"] == len(self.oversize)
            and all(
                report[k] == 0
                for k in ("size_mismatches", "md5_mismatches", "missing_writes",
                          "orphan_manifests", "missing_objects")
            )
        )
        man = pq.read_table(f"{target}/manifest").to_pylist()
        ptr = pq.read_table(f"{target}/pointers")
        if not counters_ok or len(man) != N_ROWS or ptr.num_rows != N_ROWS:
            return False
        for m in man:
            oid = m["order_id"]
            if oid in self.oversize:
                if m["status"] != "rejected_oversize":
                    return False
                continue
            with open(f"{target}/objects/{m['object_key']}", "rb") as f:
                body = f.read()
            if gen.md5(body) != self.md5[oid] or m["content_md5"] != self.md5[oid]:
                return False
        return True

    def _target(self) -> str:
        self.serial += 1
        return os.path.join(self.ctx.work, f"target-{self.serial}")

    def _one(self, rec) -> None:
        target = self._target()
        rec.op("migrate", lambda: self._migrate(target),
               lambda report: self._check(target, report))
        self.last = {
            "stored": harness.dir_bytes(target),
            "objects": harness.dir_bytes(f"{target}/objects"),
            "n_objects": sum(len(f) for _, _, f in os.walk(f"{target}/objects")),
        }
        shutil.rmtree(target, ignore_errors=True)
        rec.payload_bytes += self.payload_bytes

    def first_op(self) -> None:
        target = self._target()
        self._migrate(target)
        shutil.rmtree(target, ignore_errors=True)

    def warm_block(self) -> None:
        self.first_op()

    def blocks(self):
        return range(self.n_ops)

    def block(self, rec, _spec) -> None:
        self._one(rec)

    def instrument(self, tracer) -> None:
        self.tracer = tracer

    def rows_returned(self) -> int:
        return self.serial  # one reconciliation report row per migration

    def layer_metrics(self, tracer, rec, cnt, final) -> dict:
        n = max(1, len(rec.samples.get("migrate", [])))
        return {
            "blob_pipeline.externalize_s": tracer.total_s("blob_pipeline.externalize") / n,
            "blob_pipeline.pointer_write_s": tracer.total_s("blob_pipeline.pointer_write") / n,
            "blob_pipeline.validate_s": tracer.total_s("blob_pipeline.validate") / n,
            "blob_pipeline.rejected_oversize": float(len(self.oversize)),
            "jdbc.source_scans_per_job": cnt["jdbc_scans"] / cnt["ops"],
            "object_store.objects_written_per_job": float(self.last["n_objects"]),
            "object_store.bytes_per_source_byte": self.last["objects"] / self.source_bytes,
        }

    def final_check(self, rec) -> dict:
        return {
            "bytes_stored_per_byte": self.last["stored"] / self.source_bytes,
            "source_mb": self.source_bytes / 1e6,
        }
