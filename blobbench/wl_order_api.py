"""order_api: one closed-loop client drives ``api.OrderStore`` over a
legacy-shape Parquet table that carries the blob column.

Each block is an exact mix of 10 requests — 7 reads (``list`` with
limit 5 twice, ``list_after`` twice, ``get`` twice, ``get_blob`` once)
and 3 writes (``create``, ``update``, ``delete``) — in a seeded order.
Keys are Zipf-skewed over the live key set; creates and deletes are
equally frequent, so the table size stays constant.

Why: this is the reference's serving surface. Its cost is Spark's fixed
per-job overhead plus ``mutation.rewrite``, which rewrites the whole
table on every write; bulk byte throughput plays no part.
"""

from __future__ import annotations

import os
import random
import shutil

from . import gen, harness

#: the 20k-row x 2 KB table the route probes in METRICS.md were taken on
N_ROWS = 20_000
BLOB_BYTES = 2048
#: nominal seconds per block on a 4-core host; ``--seconds`` / this is
#: the fixed number of timed blocks
BLOCK_S = 5.0
COLS = ["order_id", "description"]
SCHEMA = "order_id string, description string, order_blob binary"


class Model:
    """Driver-side copy of the table plus the seeded request stream."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed * 7919 + 1)
        self.rows = {k: gen.order_row(seed, k, 0, BLOB_BYTES) for k in range(N_ROWS)}
        self.next_key = N_ROWS
        self.version = 0
        self.zipf = gen.Zipf(N_ROWS)

    def pick(self) -> int:
        keys = sorted(self.rows)
        return keys[self.zipf.sample(self.rng) % len(keys)]

    def sorted_ids(self) -> list[str]:
        return sorted(r[0] for r in self.rows.values())

    def table(self):
        import pyarrow as pa

        rows = [self.rows[k] for k in sorted(self.rows)]
        return pa.table(
            {
                "order_id": [r[0] for r in rows],
                "description": [r[1] for r in rows],
                "order_blob": pa.array([r[2] for r in rows], pa.binary()),
            }
        )


def _row_bytes(row: tuple) -> int:
    return len(row[0]) + len(row[1]) + len(row[2])


class Workload:
    WARM_MIN, WARM_MAX = 5, 8

    def __init__(self, ctx):
        self.ctx = ctx
        self.path = os.path.join(ctx.work, "orders")
        self.n_blocks = max(2, round(ctx.seconds / BLOCK_S))
        self.rows_read = 0
        self.written_bytes = 0
        self.changed_bytes = 0

    def load(self) -> None:
        """Fresh table and request stream (identical in every run)."""
        import pyarrow.parquet as pq

        from migrate_blob_data_from_rdbms_to_amazon_s3_spark.api import OrderStore

        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self.model = Model(self.ctx.seed)
        pq.write_table(self.model.table(), os.path.join(self.path, "part-00000.parquet"))
        self.store = OrderStore(self.ctx.spark, self.path)

    def first_op(self) -> None:
        self.store.get(gen.order_id(0), columns=COLS)

    def warm_block(self) -> None:
        self.block(_Discard(), self._spec(self.model))

    def _spec(self, model) -> list[str]:
        order = list(gen.ORDER_BLOCK)
        model.rng.shuffle(order)
        return order

    def blocks(self):
        for _ in range(self.n_blocks):
            yield self._spec(self.model)

    def block(self, rec, spec) -> None:
        store, model = self.store, self.model
        spark = self.ctx.spark
        for kind in spec:
            if kind == "list":
                off = model.rng.randrange(len(model.rows))
                ids = model.sorted_ids()

                def run():
                    env = store.list(limit="5", offset=str(off), columns=COLS)
                    return env, [tuple(r) for r in env["orders"].collect()]

                def check(out, off=off, ids=ids):
                    env, rows = out
                    want = [(i, model.rows[_key(i)][1]) for i in ids[off:off + 5]]
                    return env["ordersCount"] == len(ids) and rows == want

                out = rec.op("list", run, check, span="pagination.list")
            elif kind == "list_after":
                ids = model.sorted_ids()
                after = ids[model.rng.randrange(len(ids))]

                def run(after=after):
                    return [tuple(r) for r in store.list_after(after, 5, COLS).collect()]

                def check(rows, after=after, ids=ids):
                    want = [(i, model.rows[_key(i)][1]) for i in ids if i > after][:5]
                    return rows == want

                out = rec.op("list_after", run, check, span="pagination.keyset")
            elif kind in ("get", "get_blob"):
                k = model.pick()
                oid = gen.order_id(k)
                if kind == "get":
                    out = rec.op(
                        "get",
                        lambda oid=oid: store.get(oid, columns=COLS),
                        lambda r, k=k: r == dict(zip(COLS, model.rows[k][:2])),
                        span="lookup.get",
                    )
                else:
                    out = rec.op(
                        "get_blob",
                        lambda oid=oid: store.get_blob(oid),
                        lambda b, k=k: bytes(b) == model.rows[k][2],
                        span="lookup.get_blob",
                    )
            else:
                out = self._write(rec, kind, store, model, spark)
            self._account(rec, kind, out)

    def _write(self, rec, kind, store, model, spark):
        model.version += 1
        if kind == "create":
            k = model.next_key
            model.next_key += 1
            row = gen.order_row(model.seed, k, model.version, BLOB_BYTES)

            def run():
                store.create(spark.createDataFrame([row], SCHEMA))

            model.rows[k] = row
            changed = row
        elif kind == "update":
            k = model.pick()
            row = gen.order_row(model.seed, k, model.version, BLOB_BYTES)

            def run():
                store.update(spark.createDataFrame([row], SCHEMA))

            changed = model.rows[k] = row
        else:
            k = model.pick()
            oid = gen.order_id(k)

            def run():
                store.delete(oid)

            changed = model.rows.pop(k)
        before = harness.file_versions(store.path)
        rec.op(kind, run, lambda _: _table_matches(store.path, model),
               span=f"mutation.{kind}")
        self.written_bytes += harness.bytes_written_since(store.path, before)
        return changed

    def _account(self, rec, kind, out) -> None:
        if out is None:
            return
        if kind in ("create", "update", "delete"):
            self.changed_bytes += _row_bytes(out)
            if kind != "delete":
                rec.payload_bytes += _row_bytes(out)
        elif kind == "list":
            self.rows_read += len(out[1])
            rec.payload_bytes += sum(len(a) + len(b) for a, b in out[1])
        elif kind == "list_after":
            self.rows_read += len(out)
            rec.payload_bytes += sum(len(a) + len(b) for a, b in out)
        elif kind == "get":
            self.rows_read += 1
            rec.payload_bytes += sum(len(v) for v in out.values())
        else:
            self.rows_read += 1
            rec.payload_bytes += len(out)

    def instrument(self, tracer) -> None:
        self.rows_read = self.written_bytes = self.changed_bytes = 0

    def rows_returned(self) -> int:
        return self.rows_read

    def layer_metrics(self, tracer, rec, cnt, final) -> dict:
        names = {
            "pagination.list_ms": "pagination.list",
            "pagination.keyset_ms": "pagination.keyset",
            "lookup.get_ms": "lookup.get",
            "lookup.get_blob_ms": "lookup.get_blob",
            "mutation.create_ms": "mutation.create",
            "mutation.update_ms": "mutation.update",
            "mutation.delete_ms": "mutation.delete",
        }
        out = {m: tracer.median_ms(s) for m, s in names.items()}
        out["mutation.bytes_written_per_byte_changed"] = (
            self.written_bytes / self.changed_bytes
        )
        return out

    def final_check(self, rec) -> dict:
        if not _table_matches(self.path, self.model):
            rec.fail("order_api: final table differs from the model")
        return {
            "bytes_stored_per_byte": harness.dir_bytes(self.path)
            / sum(_row_bytes(r) for r in self.model.rows.values()),
            "n_rows": len(self.model.rows),
        }


def _key(order_id: str) -> int:
    return int(order_id[2:])


def _table_matches(path: str, model: Model) -> bool:
    """Whole-table check outside Spark: the Parquet files at ``path``
    hold exactly the model's rows."""
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("order_id")
    return t.equals(model.table())


class _Discard:
    """Recorder stand-in for warm-up blocks: runs, checks nothing."""

    payload_bytes = 0

    def op(self, kind, fn, check=None, span=None):
        return fn()
