"""The benchmark's three workloads.

Each workload generates its inputs from the seed with
``tools/gen_fixture.py``, prepares state, and then exposes one cycle of
operations (a *round*). Every operation goes through a public entry
point of the package — ``PipelineService.run_pipeline``,
``operators.apply_operator`` + ``sinks.write_sink``, or the
``streaming.ops`` drains and store maintenance — and every output is
checked afterwards, outside the timed section, with DuckDB over the
same files.
"""

from __future__ import annotations

import importlib.util
import math
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# entry points are looked up on their modules at call time, so the
# traced run's wrappers see these calls too
from blackroad_data_pipeline_spark import operators, sinks, sources
from blackroad_data_pipeline_spark.service import PipelineService
from blackroad_data_pipeline_spark.store import store_init, store_resolve
from blackroad_data_pipeline_spark.streaming import ops as streaming_ops


def _load(root: str, relpath: str):
    """A repository script (not a package module) by path."""
    name = os.path.splitext(os.path.basename(relpath))[0]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _split_row_groups(path: str, groups: int) -> None:
    """Rewrite one generated table with ``groups`` row groups, so Spark
    splits its scan across the session's task slots (a single row group
    scans as one task whatever the file size)."""
    t = pq.read_table(path)
    pq.write_table(t, path, compression="snappy",
                   row_group_size=max(1, math.ceil(t.num_rows / groups)))


def _dir_files(path: str) -> dict[str, int]:
    """Data files under ``path`` (relative path -> bytes), skipping the
    hidden and ``_``-prefixed markers the writers leave."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def digest(con, rel: str) -> tuple[int, int]:
    """(row count, order-independent hash) of a relation. Columns are
    taken in name order and canonicalized by kind, so a Spark output
    and a DuckDB query digest equal iff they hold the same rows."""
    cols = sorted(con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall())
    exprs = []
    for name, typ, *_ in cols:
        q, t = f'"{name}"', typ.upper()
        if "TIMESTAMP" in t:
            exprs.append(f"epoch_us({q})")
        elif t.endswith("INT") or t in ("HUGEINT", "UHUGEINT"):
            exprs.append(f"CAST({q} AS BIGINT)")
        elif t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
            exprs.append(f"CAST({q} AS DOUBLE)")
        else:
            exprs.append(f"CAST({q} AS VARCHAR)")
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(exprs)})), 0) "
        f"FROM {rel}").fetchone()
    return int(n), int(h)


def _pq(path: str, hive: bool = False) -> str:
    if os.path.isdir(path):
        path = os.path.join(path, "**", "*.parquet")
    return (f"read_parquet('{path}', hive_partitioning = "
            f"{'true' if hive else 'false'})")


class Workload:
    """One workload: ``setup`` (untimed, counted in ``setup_s``), then
    rounds of ``ops``; ``prepare`` and ``check`` surround each timed
    ``run`` without being timed."""

    name = ""
    ops: tuple[str, ...] = ()
    # the end-to-end metric slots op1_s..op4_s, in order
    slots: tuple[str, ...] = ()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work
        self.seed = ctx.seed
        self.sf = ctx.sf
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {ctx.cores}")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = "
                         f"'{os.path.join(self.work, 'duckdb_tmp')}'")
        self.fx = os.path.join(self.work, "fixture")
        self.out = os.path.join(self.work, "out")
        os.makedirs(self.out, exist_ok=True)

    def generate(self, split: tuple[str, ...]) -> None:
        gen = _load(self.ctx.root, "tools/gen_fixture.py")
        gen.gen(self.sf, self.fx, seed=self.seed)
        for t in split:
            _split_row_groups(self._table(t), 4 * self.ctx.cores)

    def _table(self, name: str) -> str:
        return os.path.join(self.fx, f"{name}.parquet")

    def warmup_ops(self) -> list[str]:
        return list(self.ops)

    def prepare(self, op: str) -> None:
        pass

    def exhausted(self) -> bool:
        return False

    def close(self) -> None:
        self.con.close()


# --------------------------------------------------------------------------
# etl_relational: catalog pipelines through run_pipeline
# --------------------------------------------------------------------------


class EtlRelational(Workload):
    name = "etl_relational"
    ops = ("filter_agg", "join", "dedup_sort", "upsert")
    slots = ops

    def setup(self) -> None:
        self.generate(("lineitem", "orders"))
        entry = _load(self.ctx.root, "__spark_entry__.py")
        self._make_orders_state()
        svc = self.svc = PipelineService(self.spark)
        li = {"path": self._table("lineitem")}
        self.pipelines = {}

        p = svc.create_pipeline("filter_agg")
        svc.add_source(p.id, "lineitem", "parquet", li)
        svc.add_transform(p.id, "filter", {"field": "l_quantity", "op": "gt",
                                           "value": 10}, 0)
        svc.add_transform(p.id, "aggregate", _FILTER_AGG, 1)
        svc.add_transform(p.id, "sort", {"fields": ["l_returnflag",
                                                    "l_linestatus"]}, 2)
        svc.add_sink(p.id, "parquet", {"path": self._o("filter_agg")})
        self.pipelines["filter_agg"] = p.id

        p = svc.create_pipeline("join")
        svc.add_source(p.id, "orders", "parquet",
                       {"path": self._table("orders")})
        svc.add_source(p.id, "customer", "parquet",
                       {"path": self._table("customer")}, root=False)
        svc.add_transform(p.id, "filter", {"field": "o_orderstatus",
                                           "op": "eq", "value": "O"}, 0)
        svc.add_transform(p.id, "join", {
            "right": "customer", "left_key": "o_custkey",
            "right_key": "c_custkey", "broadcast": True}, 1)
        svc.add_transform(p.id, "select", {"fields": [
            "o_orderkey", "o_totalprice", "r_c_name", "r_c_mktsegment"]}, 2)
        svc.add_sink(p.id, "parquet", {"path": self._o("join")})
        self.pipelines["join"] = p.id

        p = svc.create_pipeline("dedup_sort")
        svc.add_source(p.id, "lineitem", "parquet", li)
        svc.add_transform(p.id, "deduplicate", {
            "keys": ["l_orderkey"], "keep": "first",
            "order_by": list(_DEDUP_ORDER)}, 0)
        svc.add_transform(p.id, "sort", {
            "fields": ["l_extendedprice", "l_orderkey"],
            "descending": True}, 1)
        svc.add_transform(p.id, "select", {"fields": [
            "l_orderkey", "l_linenumber", "l_extendedprice"]}, 2)
        svc.add_sink(p.id, "parquet", {"path": self._o("dedup_sort")})
        self.pipelines["dedup_sort"] = p.id

        # two sinks: run_pipeline caches the batch once for both
        p = svc.create_pipeline("upsert")
        svc.add_source(p.id, "updates", "parquet", {"path": self.updates})
        svc.add_sink(p.id, "parquet", {"path": self._o("upsert_copy")})
        svc.add_sink(p.id, "upsert_parquet", {
            "path": self.orders_ds, "key": "o_orderkey",
            "partition_by": ["o_month"]})
        self.pipelines["upsert"] = p.id

        con = self.con
        for t in ("lineitem", "orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"{_pq(self._table(t))}")
        upd, base = _pq(self.updates), _pq(self.orders_base, hive=True)
        dedup_sql = (
            "SELECT l_orderkey, l_linenumber, l_extendedprice FROM "
            "(SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY "
            f"{', '.join(_DEDUP_ORDER)}) AS rn FROM lineitem) WHERE rn = 1")
        upsert_sql = (
            f"SELECT * FROM {base} WHERE o_orderkey NOT IN "
            f"(SELECT o_orderkey FROM {upd}) UNION ALL BY NAME "
            f"SELECT * FROM {upd}")
        self.expected = {
            "filter_agg": digest(con, f"({entry._SQL_FILTER_AGG})"),
            "join": digest(con, f"({entry._SQL_JOIN})"),
            "dedup_sort": digest(con, f"({dedup_sql})"),
            "upsert": digest(con, f"({upsert_sql})"),
            "upsert_copy": digest(con, upd),
        }

    def plant_wrong_expected(self) -> None:
        n, h = self.expected["filter_agg"]
        self.expected["filter_agg"] = (n + 1, h)

    def _o(self, name: str) -> str:
        return os.path.join(self.out, name)

    def _make_orders_state(self) -> None:
        """The partitioned ``orders`` dataset the upsert merges into, and
        the seeded update batch: price/status changes to orders of the
        latest months (a tenth of them moved to an older month's
        partition), plus new orders."""
        rng = np.random.default_rng(self.seed + 1)
        o = pq.read_table(self._table("orders"))
        d = o["o_orderdate"].cast(pa.timestamp("us"))
        month = pc.add(pc.multiply(pc.year(d), 100), pc.month(d))
        o = o.append_column("o_month", month.cast(pa.int32()))
        self.orders_base = os.path.join(self.work, "orders_base")
        self.orders_ds = os.path.join(self.work, "orders_ds")
        pq.write_to_dataset(o, self.orders_base, partition_cols=["o_month"])

        months = np.unique(o["o_month"].to_numpy())
        recent = np.isin(o["o_month"].to_numpy(), months[-6:])
        cand = np.flatnonzero(recent)
        n_upd = max(1, len(o) // 50)
        idx = np.sort(rng.choice(cand, size=min(n_upd, len(cand)),
                                 replace=False))
        upd = o.take(pa.array(idx)).to_pydict()
        k = len(idx)
        upd["o_totalprice"] = list(np.round(
            np.asarray(upd["o_totalprice"]) * rng.uniform(0.9, 1.1, k), 2))
        upd["o_orderstatus"] = ["F"] * k
        moved = rng.random(k) < 0.1
        for i in np.flatnonzero(moved):   # the key moves partition
            m = int(rng.choice(months[-12:-6]))
            upd["o_month"][i] = m
        n_new = max(1, k // 4)
        top = int(pc.max(o["o_orderkey"]).as_py())
        src = rng.choice(len(o), size=n_new, replace=False)
        new = o.take(pa.array(src)).to_pydict()
        new["o_orderkey"] = list(range(top + 1, top + 1 + n_new))
        new["o_month"] = [int(m) for m in rng.choice(months[-6:], n_new)]
        cols = {c: upd[c] + new[c] for c in o.column_names}
        batch = pa.table(cols, schema=o.schema)
        self.updates = os.path.join(self.work, "updates.parquet")
        pq.write_table(batch, self.updates, compression="snappy")
        self.update_bytes = os.path.getsize(self.updates)

    def prepare(self, op: str) -> None:
        if op == "upsert":   # restore the dataset's base state
            shutil.rmtree(self.orders_ds, ignore_errors=True)
            shutil.copytree(self.orders_base, self.orders_ds)
            self._before = _dir_files(self.orders_ds)

    def run(self, op: str) -> dict:
        res = self.svc.run_pipeline(self.pipelines[op])
        if res["status"] != "success":
            raise RuntimeError(f"run_pipeline {op}: {res.get('error')}")
        return {"rows_in": res["rows_read"]}

    def check(self, op: str, info: dict) -> str | None:
        outs = {"upsert": [("upsert_copy", self._o("upsert_copy"), False),
                           ("upsert", self.orders_ds, True)]}.get(
            op, [(op, self._o(op), False)])
        errs = []
        files = nbytes = 0
        for key, path, hive in outs:
            got = digest(self.con, _pq(path, hive))
            if got != self.expected[key]:
                errs.append(f"{key}: got {got}, expected {self.expected[key]}")
            f = _dir_files(path)
            files += len(f)
            nbytes += sum(f.values())
        info["sinks.files"] = files
        info["sinks.bytes"] = nbytes
        if op == "upsert":
            after = _dir_files(self.orders_ds)
            info["sinks.rewritten_bytes"] = sum(
                b for p, b in after.items() if self._before.get(p) != b)
            info["sinks.update_bytes"] = self.update_bytes
        return "; ".join(errs) or None


_FILTER_AGG = {
    "group_by": ["l_returnflag", "l_linestatus"],
    "aggregates": [
        {"field": "l_extendedprice", "function": "sum_fixed", "scale": 2,
         "alias": "sum_extprice"},
        {"field": "l_quantity", "function": "sum_fixed", "scale": 2,
         "alias": "sum_qty"},
        {"field": "l_extendedprice", "function": "avg_fixed", "scale": 2,
         "alias": "avg_extprice"},
        {"field": "l_extendedprice", "function": "min",
         "alias": "min_extprice"},
        {"field": "l_extendedprice", "function": "max",
         "alias": "max_extprice"},
        {"field": "l_extendedprice", "function": "count", "alias": "n_rows"},
    ],
}
# total order over the compared columns, so keep-first is deterministic
_DEDUP_ORDER = ("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice")


# --------------------------------------------------------------------------
# corpus_dedup: llmops kernels through apply_operator + write_sink
# --------------------------------------------------------------------------

# the bench.py scale-probe configs
_CORPUS = {
    "minhash_dedup": ("documents", "dedup_near_minhash",
                      {"field": "text", "id_field": "doc_id",
                       "shingle_size": 5, "bands": 8, "rows_per_band": 4,
                       "threshold": 0.8},
                      ["doc_id", "lang", "source"]),
    "simhash": ("documents", "near_dup_simhash",
                {"field": "text", "id_field": "doc_id", "max_distance": 3},
                None),
    "semdedup": ("embeddings", "semdedup",
                 {"dim": 64, "eps": 0.95, "n_cells": 16, "refine": 1,
                  "action": "flag"},
                 ["vec_id", "semdedup_cell", "is_dup"]),
    "knn_join": ("embeddings", "knn_join",
                 {"k": 10, "n_cells": 16, "nprobe": 2, "refine": 1}, None),
}
_KNN_K = 10


class CorpusDedup(Workload):
    name = "corpus_dedup"
    ops = tuple(_CORPUS)
    slots = ops

    def setup(self) -> None:
        self.generate(("documents", "embeddings"))
        self.rows = {t: pq.read_metadata(self._table(t)).num_rows
                     for t in ("documents", "embeddings")}
        self.reference: dict[str, tuple[int, int]] = {}

    def run(self, op: str) -> dict:
        table, kind, cfg, cols = _CORPUS[op]
        df = operators.apply_operator(kind, sources.read_source(
            self.spark, "parquet", {"path": self._table(table)}), cfg)
        if cols:
            df = df.select(*cols)
        sinks.write_sink(df, "parquet", {"path": os.path.join(self.out, op)})
        return {"rows_in": self.rows[table]}

    def check(self, op: str, info: dict) -> str | None:
        table = _CORPUS[op][0]
        path = os.path.join(self.out, op)
        rel = _pq(path)
        errs = []
        got = digest(self.con, rel)
        # the warm-up output is the reference for every later run
        ref = self.reference.setdefault(op, got)
        if got != ref:
            errs.append(f"output {got} differs from the warm-up output {ref}")
        key = "doc_id" if table == "documents" else "vec_id"
        names = [r[0] for r in self.con.execute(
            f"DESCRIBE SELECT * FROM {rel}").fetchall()]
        for c in names:
            if c.endswith("id"):
                bad = self.con.execute(
                    f"SELECT count(*) FROM {rel} WHERE \"{c}\" NOT IN "
                    f"(SELECT {key} FROM {_pq(self._table(table))})"
                ).fetchone()[0]
                if bad:
                    errs.append(f"{bad} {c} values not among the input ids")
        if op == "knn_join":
            n_q, short = self.con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE n <> {_KNN_K}) "
                f"FROM (SELECT vec_id, count(*) AS n FROM {rel} "
                f"GROUP BY vec_id)").fetchone()
            if short or n_q != self.rows[table]:
                errs.append(f"knn_join: {n_q} query vectors of "
                            f"{self.rows[table]}, {short} without "
                            f"{_KNN_K} neighbours")
        f = _dir_files(path)
        info["sinks.files"], info["sinks.bytes"] = len(f), sum(f.values())
        return "; ".join(errs) or None


# --------------------------------------------------------------------------
# stream_ingest: daily availableNow drains into a managed store
# --------------------------------------------------------------------------

_VEC_KW = dict(threshold=0.9, dim=64)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string"
_VEC_SCHEMA = "vec_id long, embedding array<float>"
_FP_SQL = ("md5(regexp_replace(lower(trim(coalesce(text, ''))), "
           "'\\s+', ' ', 'g'))")


class StreamIngest(Workload):
    name = "stream_ingest"
    ops = ("text_drain", "vector_drain", "maintain")
    # op4_s is one whole day: both drains of the same landed files
    slots = ops + ("day",)

    def setup(self) -> None:
        self.generate(())
        rng = np.random.default_rng(self.seed + 2)
        docs = pq.read_table(self._table("documents"),
                             columns=["doc_id", "text", "lang", "source"])
        embs = pq.read_table(self._table("embeddings"),
                             columns=["vec_id", "embedding"])
        # ~100 vectors a day; the first day must train the PQ books
        self.days = max(4, min(40, len(embs) // 100))
        dsplit = np.array_split(rng.permutation(len(docs)), self.days)
        vsplit = np.array_split(rng.permutation(len(embs)), self.days)
        self.day_docs, self.day_vecs = [], []
        next_id = int(pc.max(docs["doc_id"]).as_py()) + 1
        seen: list[int] = []
        for i in range(self.days):
            part = docs.take(pa.array(np.sort(dsplit[i])))
            seen.extend(dsplit[i].tolist())
            # re-crawls: earlier pages again under new ids, with case and
            # whitespace changes the content fingerprint normalizes away
            k = max(1, len(part) // 20)
            src = docs.take(pa.array(rng.choice(seen, size=k)))
            texts = ["  " + t.upper().replace(" ", "   ") + " "
                     if t is not None else None
                     for t in src["text"].to_pylist()]
            again = pa.table({
                "doc_id": pa.array(range(next_id, next_id + k), pa.int64()),
                "text": texts, "lang": src["lang"],
                "source": src["source"]})
            next_id += k
            self.day_docs.append(pa.concat_tables([part, again]))
            self.day_vecs.append(embs.take(pa.array(np.sort(vsplit[i]))))

        w = self.work
        self.land_docs = os.path.join(w, "land", "docs")
        self.land_vecs = os.path.join(w, "land", "vecs")
        os.makedirs(self.land_docs)
        os.makedirs(self.land_vecs)
        self.corpus = os.path.join(w, "corpus")
        self.fps = os.path.join(w, "fingerprints")
        self.root = os.path.join(w, "vector_store")
        self.models = os.path.join(w, "models")
        store_init(self.root)
        self.day = -1
        self.store_rows = 0

    def warmup_ops(self) -> list[str]:
        # day 0 bootstraps the models, day 1 takes the history path
        return ["text_drain", "vector_drain"] * 2 + ["maintain"]

    def exhausted(self) -> bool:
        return self.day + 1 >= self.days

    def prepare(self, op: str) -> None:
        if op == "text_drain":   # the next day's files land
            self.day += 1
            name = f"day-{self.day:03d}.parquet"
            pq.write_table(self.day_docs[self.day],
                           os.path.join(self.land_docs, name))
            pq.write_table(self.day_vecs[self.day],
                           os.path.join(self.land_vecs, name))
        elif op == "maintain":
            self._pre_maintain = self._store_count()

    def _stream(self, path: str, schema: str):
        return (self.spark.readStream.schema(schema)
                .option("recursiveFileLookup", True).parquet(path))

    def run(self, op: str) -> dict:
        ck = os.path.join(self.work, "checkpoints")
        if op == "text_drain":
            q = streaming_ops.run_stream_ingest_dedup(
                self._stream(self.land_docs, _DOC_SCHEMA), self.corpus,
                os.path.join(ck, "docs"), self.fps)
            return {"rows_in": self.day_docs[self.day].num_rows,
                    "queries": [q]}
        if op == "vector_drain":
            q = streaming_ops.run_stream_vector_ingest(
                self._stream(self.land_vecs, _VEC_SCHEMA), self.root,
                os.path.join(ck, "vecs"), self.models, **_VEC_KW)
            return {"rows_in": self.day_vecs[self.day].num_rows,
                    "queries": [q]}
        stats = streaming_ops.vector_store_maintain_managed(
            self.spark, self.root, hot_batches=1)
        return {"rows_in": 0, "store.files_before": stats["files_before"],
                "store.files_after": stats["files_after"],
                "store.bytes_rewritten": stats["bytes_after"]}

    def _store_count(self) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM {_pq(store_resolve(self.root))}"
        ).fetchone()[0]

    def _landed(self, kind: str) -> str:
        return _pq(self.land_docs if kind == "docs" else self.land_vecs)

    def check(self, op: str, info: dict) -> str | None:
        con = self.con
        if op == "text_drain":
            corpus = _pq(self.corpus, hive=True)
            n, dup, stray = con.execute(
                f"SELECT count(*), count(*) - count(DISTINCT {_FP_SQL}), "
                f"count(*) FILTER (WHERE doc_id NOT IN "
                f"(SELECT doc_id FROM {self._landed('docs')})) "
                f"FROM {corpus}").fetchone()
            want = con.execute(
                f"SELECT count(DISTINCT {_FP_SQL}) FROM "
                f"{self._landed('docs')}").fetchone()[0]
            f = _dir_files(self.corpus)
            info["sinks.files"], info["sinks.bytes"] = len(f), sum(f.values())
            if dup or stray or n != want:
                return (f"corpus holds {n} docs for {want} distinct texts, "
                        f"{dup} duplicate texts, {stray} unknown ids")
            return None
        if op == "vector_drain":
            store = _pq(store_resolve(self.root))
            n, uniq, stray = con.execute(
                f"SELECT count(*), count(DISTINCT vec_id), "
                f"count(*) FILTER (WHERE vec_id NOT IN "
                f"(SELECT vec_id FROM {self._landed('vecs')})) "
                f"FROM {store}").fetchone()
            grew = n > self.store_rows
            self.store_rows = n
            if n != uniq or stray or not grew:
                return (f"store holds {n} rows, {uniq} distinct ids, "
                        f"{stray} unknown ids, grew={grew}")
            return None
        after = self._store_count()
        if after != self._pre_maintain:
            return (f"compacted version holds {after} rows, "
                    f"{self._pre_maintain} before maintenance")
        return None


WORKLOADS = {w.name: w for w in (EtlRelational, CorpusDedup, StreamIngest)}
