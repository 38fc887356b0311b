"""The three workloads. Each is a closed loop with one client: ``run_pass``
replays the same seeded script, so every pass does the same work, and a
checked pass compares every op's output against an independent result."""

from __future__ import annotations

import http.client
import json
import os
import sys
import threading
import time
import traceback

import numpy as np
import pandas as pd

from datagen import CLUSTERS, SIZES


class Ctx:
    """What a workload needs from the run: the session, its input and
    scratch directories, the seed, and the op clock."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.samples: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0
        self.persisted_after_op = 0
        self.rows_returned = 0

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def op(self, kind: str, name: str, fn):
        """Run one op, timed as a sample of ``kind``. Returns (ok, result);
        an op that raises counts as failed."""
        tr = self.tracer if self.tracer is not None and self.tracer.active else None
        before = self._persisted() if tr else 0
        self.attempted += 1
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            if tr:
                tr.op = f"{self.attempted}:{name}"
                with tr.span(name, "op") as sp:
                    tr.op_span = sp
                    out = fn()
            else:
                out = fn()
        except Exception:  # a failed op is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            ok = False
            self.failed += 1
        finally:
            if tr:
                tr.op_span = tr.op = None
        self.samples.append((kind, (time.perf_counter() - t0) * 1000))
        if tr:
            self.persisted_after_op = max(
                self.persisted_after_op, self._persisted() - before
            )
        return ok, out

    def mismatch(self, what: str) -> None:
        print(f"MISMATCH {what}", file=sys.stderr)
        self.failed += 1

    def sink(self):
        """Span for the action that runs a lazy plan."""
        from contextlib import nullcontext

        tr = self.tracer
        return tr.span("noop_write", "sink") if tr is not None and tr.active else nullcontext()


class DedupCuration:
    """The dedup-aware split assignment through the catalog, into a noop
    sink: near-duplicate pairs, the duplicate-components fixpoint loop
    over them, and a split per component. No commits, no HTTP. A catalog
    op costs seconds at any input size (it is a sequence of short Spark
    jobs), so a pass holds this one op to let three timed passes fit a
    run."""

    name = "dedup-curation"
    tables = ["documents"]
    OP = "dedup_aware_splits"

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def setup(self) -> None:
        pass

    def run_pass(self, check: bool) -> None:
        from checks import against_oracle

        ctx, spark, d, name = self.ctx, self.ctx.spark, self.ctx.data_dir, self.OP
        q = self.queries[name]
        if check:
            ok, diff = ctx.op(name, name, lambda: against_oracle(
                q(spark, d), self.oracles[name], d, self.tables))
            if ok and diff:
                ctx.mismatch(f"{name}: {diff}")
        else:
            def run():
                df = q(spark, d)
                with ctx.sink():
                    df.write.format("noop").mode("overwrite").save()
            ctx.op(name, name, run)
        spark.catalog.clearCache()

    def close(self) -> None:
        pass


class ExplorerSession:
    """A cluster explorer over the embeddings behind its HTTP server, with
    one keep-alive client. Set-up starts the server and trains through
    ``POST /train``; a pass is a seeded mix of table and scatter views with
    one relabel, all read from the cached assignment frame that the
    training built."""

    name = "explorer-session"
    tables = ["embeddings"]
    VIEWS = 4

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.server = None
        self.conn = None
        self.expected_rows: dict[int, int] = {}
        self.retrain_ms = None

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from ihop_reddit_spark.app import ClusterExplorer, make_server

        vectors = self.ctx.spark.read.parquet(
            os.path.join(self.ctx.data_dir, "embeddings.parquet")
        ).select(
            F.col("vec_id").cast("string").alias("word"),
            F.col("embedding").cast("array<double>").alias("vector"),
        )
        self.explorer = ClusterExplorer(vectors)
        self.server = make_server(self.explorer)
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        self.conn = http.client.HTTPConnection(
            "127.0.0.1", self.server.server_address[1], timeout=170
        )
        rng = np.random.default_rng([self.ctx.seed, 101])
        body = {"n_clusters": CLUSTERS, "seed": int(rng.integers(1, 1000))}
        self.ctx.op("retrain", "/train", lambda: self._request("POST", "/train", body))
        self.retrain_ms = self.ctx.samples[-1][1]
        self.script = self._script(rng)

    def _script(self, rng) -> list[tuple[str, str, dict | None]]:
        """The same number of views of each kind in a seeded order, with a
        relabel halfway."""
        n = SIZES["embeddings"]
        k = CLUSTERS
        reqs: list[tuple[str, str, dict | None]] = []
        kinds = rng.permutation(np.arange(self.VIEWS) % 4)
        for i, kind in enumerate(kinds):
            picked = rng.choice(n, size=int(rng.integers(1, 4)), replace=False)
            words = ",".join(str(w) for w in picked)
            c = int(rng.integers(0, k))
            path = [
                f"/table?words={words}&clusters={c}",
                f"/table?words={words}&neighbors=1",
                f"/scatter?words={words}&clusters={c}&highlight=1",
                f"/scatter.html?clusters={c}&highlight=1",
            ][int(kind)]
            reqs.append(("GET", path, None))
            if i == self.VIEWS // 2:
                labels = {str(c): f"topic-{c}" for c in rng.choice(k, size=3, replace=False)}
                reqs.append(("POST", "/labels", labels))
        return reqs

    def _request(self, method: str, path: str, body):
        payload = None if body is None else json.dumps(body)
        self.conn.request(method, path, body=payload,
                          headers={"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise RuntimeError(f"{method} {path}: HTTP {resp.status} {data[:200]!r}")
        return data

    def _direct(self, path: str):
        """The same view collected from the explorer directly."""
        from urllib.parse import parse_qs, urlparse

        from ihop_reddit_spark.app import _rows_json, scatter_html

        url = urlparse(path)
        qs = parse_qs(url.query)
        words = [w for w in qs.get("words", [""])[0].split(",") if w]
        clusters = [int(c) for c in qs.get("clusters", [""])[0].split(",") if c]
        if url.path == "/table":
            return {"rows": _rows_json(self.explorer.selection_table(
                words, clusters, show_neighbors="neighbors" in qs))}
        if url.path == "/scatter":
            return {"rows": _rows_json(self.explorer.scatter_data(
                words, clusters, highlight="highlight" in qs))}
        return scatter_html(self.explorer, words, clusters, highlight="highlight" in qs)

    def run_pass(self, check: bool) -> None:
        ctx = self.ctx
        for i, (method, path, body) in enumerate(self.script):
            kind = "view" if method == "GET" else "labels"
            ok, data = ctx.op(kind, path, lambda: self._request(method, path, body))
            if not ok or method != "GET":
                continue
            if path.startswith("/scatter.html"):
                got, n = data.decode(), data.count(b"<circle")
            else:
                got = json.loads(data)
                n = len(got["rows"])
            ctx.rows_returned += n
            if check:
                want = self._direct(path)
                if isinstance(want, dict):
                    want = json.loads(json.dumps(want))
                if got != want:
                    ctx.mismatch(f"{path}: HTTP response differs from the direct view")
                self.expected_rows[i] = n
            elif self.expected_rows.get(i, n) != n:
                ctx.mismatch(f"{path}: {n} rows, checked pass had {self.expected_rows[i]}")

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self._thread.join(timeout=30)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class ManifestIngest:
    """Micro-batch ingest into a fresh manifest table seeded from the
    documents: each batch is an upsert on ``doc_id`` (new and existing
    keys) plus a keyed delete, then a snapshot count. After the batches
    come a two-table catalog transaction and maintenance (materialize the
    deletion vectors, compact, vacuum). Each pass writes its tables to a
    new directory under the run's work directory, which the run deletes
    at exit."""

    name = "manifest-ingest"
    tables = ["documents"]
    BATCHES = 2
    UPSERT_OLD, UPSERT_NEW, DELETES = 20, 20, 12

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.pass_no = 0
        self.bytes_per_user_byte = None
        self.files_written = 0

    def setup(self) -> None:
        spark = self.ctx.spark
        rng = np.random.default_rng([self.ctx.seed, 202])
        docs = pd.read_parquet(os.path.join(self.ctx.data_dir, "documents.parquet"))
        self.seed_df = spark.createDataFrame(docs)
        self.schema = self.seed_df.schema
        model = docs.set_index("doc_id", drop=False)
        next_id = int(docs.doc_id.max()) + 1
        self.batches = []
        for b in range(self.BATCHES):
            old = rng.choice(model.index.to_numpy(), size=self.UPSERT_OLD, replace=False)
            new = np.arange(next_id, next_id + self.UPSERT_NEW)
            next_id += self.UPSERT_NEW
            up = pd.DataFrame({"doc_id": np.concatenate([old, new]).astype(np.int64)})
            up["text"] = [
                f"batch {b} revision of {i} "
                + " ".join(rng.choice(["a", "the", "spark", "row"], size=12))
                for i in up.doc_id
            ]
            up["lang"] = "en"
            up["source"] = f"batch{b}"
            up["n_chars"] = up.text.str.len().astype(np.int64)
            model = pd.concat([model.drop(index=old), up.set_index("doc_id", drop=False)])
            dele = rng.choice(
                np.setdiff1d(model.index.to_numpy(), up.doc_id.to_numpy()),
                size=self.DELETES, replace=False)
            model = model.drop(index=dele)
            self.batches.append((
                spark.createDataFrame(up[docs.columns.tolist()], schema=self.schema),
                spark.createDataFrame(pd.DataFrame({"doc_id": dele.astype(np.int64)})),
                model.sort_index().copy(),
            ))
        per_batch = self.UPSERT_OLD + self.UPSERT_NEW
        self.log_df = spark.createDataFrame(pd.DataFrame(
            {"batch": np.arange(self.BATCHES, dtype=np.int64),
             "rows": np.full(self.BATCHES, per_batch, dtype=np.int64)}))
        # the final rows written once: the base of bytes_per_user_byte
        final_file = os.path.join(self.ctx.work_dir, "final.parquet")
        self.batches[-1][2].reset_index(drop=True).to_parquet(final_file, index=False)
        self.user_bytes = os.path.getsize(final_file)
        self.roll_df = spark.createDataFrame(pd.DataFrame(
            {"source": ["seed"] + [f"batch{b}" for b in range(self.BATCHES)],
             "docs": np.array([len(docs)] + [per_batch] * self.BATCHES, dtype=np.int64)}))

    def run_pass(self, check: bool) -> None:
        from ihop_reddit_spark.sources import catalog as C
        from ihop_reddit_spark.sources import manifest as M

        ctx, spark = self.ctx, self.ctx.spark
        self.pass_no += 1
        root = os.path.join(ctx.work_dir, f"manifest-pass{self.pass_no}")
        table, log, roll, cat = (os.path.join(root, n) for n in ("docs", "log", "roll", "cat"))
        tracing = ctx.tracer is not None and ctx.tracer.active
        written: set[str] = set()

        def op(kind, name, fn):
            out = ctx.op(kind, name, fn)
            if tracing:  # files a later vacuum deletes still count
                for r, _dirs, files in os.walk(root):
                    written.update(os.path.join(r, f) for f in files)
            return out

        def seed():
            M.manifest_init(table)
            M.manifest_append(self.seed_df, table)
            M.manifest_init(log)
            M.manifest_init(roll)
            C.catalog_init(cat, {"log": log, "roll": roll})
        op("seed", "seed_table", seed)
        for up, dele, model in self.batches:
            def batch():
                M.manifest_merge_upsert(spark, table, up, "doc_id")
                M.manifest_delete_rows(spark, table, keys=dele, on="doc_id")
            op("batch", "upsert_delete", batch)
            if check:
                ok, rows = op("read", "read_snapshot",
                              lambda: M.read_snapshot(spark, table).toPandas())
                if ok:
                    got = rows.sort_values("doc_id").reset_index(drop=True)
                    want = model[got.columns.tolist()].reset_index(drop=True)
                    if not got.equals(want.astype(got.dtypes.to_dict())):
                        ctx.mismatch("snapshot differs from the pandas model "
                                     f"({len(got)} vs {len(want)} rows)")
            else:
                ok, n = op("read", "read_snapshot", lambda: M.read_snapshot(spark, table).count())
                if ok and n != len(model):
                    ctx.mismatch(f"snapshot has {n} rows, model {len(model)}")

        def txn():
            t = C.CatalogTransaction(cat)
            t.append("log", self.log_df)
            t.append("roll", self.roll_df)
            t.commit()
        op("txn", "catalog_txn", txn)

        def maintain():
            M.manifest_materialize_deletes(spark, table)
            M.manifest_compact(spark, table)
            M.manifest_vacuum(table, keep_from_version=M.latest_version(table))
        op("maintenance", "maintenance", maintain)
        if check:
            ok, n = ctx.op("read", "catalog_read",
                           lambda: C.read_catalog_table(spark, cat, "roll").count())
            if ok and n != self.roll_df.count():
                ctx.mismatch(f"catalog table roll has {n} rows")
            self.bytes_per_user_byte = _dir_bytes(table) / self.user_bytes
        if tracing:
            self.files_written = len(written)

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (DedupCuration, ExplorerSession, ManifestIngest)}
