"""The three benchmark workloads.

Each workload has a set-up (timed into ``setup_s``, input generation
excluded) and a closed loop of operations that runs until ``seconds`` have
been measured. Every operation is checked for correctness outside the
timed region; an exception or a mismatch counts as a failed operation and
the loop goes on.

* ``lake_index``: one operation indexes the whole generated lake with
  ``build_sketch_store`` into a fresh store.
* ``discovery_search``: set-up indexes a lake; one operation is one search
  query (join / union / subset / vector top-k) from a Zipf-skewed stream.
* ``curation_ingest``: set-up writes a base signature store; one operation
  is one arriving document batch (quality score, dedup + commit, and
  compaction on every fifth batch).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
import oracle
from tracing import Tracer

from tabsketchfm_spark.operators import dedup, minhash, text, vector
from tabsketchfm_spark.sources import sketch_store, tables


@dataclass
class Run:
    spark: object
    tracer: Tracer
    work: str
    truth: dict
    seconds: float
    perturb: bool
    setup_s: float = 0.0
    setup_parts: dict[str, float] = field(default_factory=dict)
    ops: list[tuple[str, float, bool]] = field(default_factory=list)  # (kind, seconds, traced)
    items: int = 0
    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    op_id: int = 0
    last_span: dict = field(default_factory=dict)

    def note(self, name: str, value: float) -> None:
        """One sample of a per-layer metric."""
        self.samples.setdefault(name, []).append(float(value))

    def timed_setup(self, label: str, fn):
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.setup_s += dt
        self.setup_parts[label] = dt
        return out

    def storage_probe(self) -> None:
        """Persisted blocks the session holds right now (traced ops only)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.note("spark.storage_mb_after_op", sum(i.memSize() + i.diskSize() for i in infos) / 1e6)

    def loop(self, op, may_stop=lambda n: True, limit: int | None = None, kind_of=lambda i: "op") -> None:
        """Closed loop: run ``op(i)`` until ``seconds`` of operations have
        been measured and ``may_stop(ops_done)`` allows it. ``op`` returns
        (items, check); ``check`` runs untimed and raises on a wrong
        result. In a traced run half the operations are traced, in the
        order untraced, traced, traced, untraced (repeated) so warm-up
        drift favours neither side; comparing traced and untraced
        operations of the same ``kind_of(i)`` gives the tracing overhead."""
        traced_run = self.tracer.available
        i, measured = 0, 0.0
        while limit is None or i < limit:
            if i >= (2 if traced_run else 1) and measured >= self.seconds and may_stop(i):
                break
            self.op_id = i
            self.tracer.enabled = traced_run and i % 4 in (1, 2)
            self.attempted += 1
            check = None
            t0 = time.perf_counter()
            try:
                items, check = op(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                items = 0
            dt = time.perf_counter() - t0
            print(f"op {i} ({kind_of(i)}): {dt:.3f} s", file=sys.stderr, flush=True)
            self.ops.append((kind_of(i), dt, self.tracer.enabled))
            if self.tracer.enabled:
                self.storage_probe()
            self.tracer.enabled = False
            measured += dt
            self.items += items
            if check is not None:
                try:
                    check()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.failed += 1
            i += 1

    def call(self, name: str, fn, action=None):
        """One call into a layer, as a span: ``fn`` builds (or eagerly runs)
        the operation, ``action`` is the terminal action on its result."""
        with self.tracer.span(name, self.op_id) as sp:
            t0 = time.perf_counter()
            out = fn()
            t1 = time.perf_counter()
            if action is not None:
                out = action(out)
            sp["call_s"] = t1 - t0
            sp["action_s"] = time.perf_counter() - t1
        self.last_span = sp
        return out

    def load_table(self, lake: str, name: str):
        return self.call("sources.load_table", lambda: tables.load_table(self.spark, lake, name))


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _perturb(pdf):
    """Deliberately corrupt a result (smoke test of the checks)."""
    return pdf.iloc[1:]


# ----------------------------------------------------------------------
# lake_index


class LakeIndexer:
    """Indexes one generated lake with ``build_sketch_store`` and checks the
    store it wrote against DuckDB (shared by ``lake_index`` and the
    set-up of ``discovery_search``)."""

    def __init__(self, run: Run, lake: str, meta: dict):
        self.run, self.lake, self.meta = run, lake, meta
        self.names = sorted(meta)
        self.lake_bytes = _dir_bytes(lake)[1]
        self._expected = None

    def index(self, store: str) -> None:
        run = self.run
        real_rows = sketch_store.build_sketch_rows
        sketch_store.build_sketch_rows = run.tracer.wrap(
            real_rows, "sources.sketch_store.build_rows", lambda: run.op_id
        )
        try:
            lake_tables = {n: run.load_table(self.lake, n) for n in self.names}
            run.call(
                "index.build_sketch_store",
                lambda: sketch_store.build_sketch_store(run.spark, lake_tables, store),
            )
        finally:
            sketch_store.build_sketch_rows = real_rows
        sp = run.last_span
        if "id" in sp:
            # the writes are what the call spends outside plan building
            plan = sum(
                k["end"] - k["start"]
                for k in run.tracer.spans
                if k["parent"] == sp["id"] and k["name"] == "sources.sketch_store.build_rows"
            )
            run.note("sources.sketch_store.write_s", sp["end"] - sp["start"] - plan)

    def check(self, store: str) -> None:
        """Compare the store's integer columns with DuckDB; raises Mismatch."""
        n_files, n_bytes = _dir_bytes(store)
        self.run.note("sources.sketch_store.files", n_files)
        self.run.note("sources.sketch_store.bytes_per_input_byte", n_bytes / self.lake_bytes)
        if self._expected is None:
            con = oracle.lake_connection(self.lake, self.names)
            try:
                self._expected = oracle.expected_store(con, self.meta)
            finally:
                con.close()
        want = self._expected
        if self.run.perturb:
            k = next(iter(want))
            want = {**want, k: (want[k][0] + 1, *want[k][1:])}
        oracle.check_store(store, want)


def lake_index(run: Run, inputs: str) -> None:
    warm_lake = os.path.join(run.work, "warm_lake")
    warm = gen.gen_lake(run.truth["seed"], "tiny", warm_lake, gen.Vocab.build(np.random.default_rng(0)))

    def warm_up():
        t = {n: tables.load_table(run.spark, warm_lake, n) for n in sorted(warm["tables"])}
        sketch_store.build_sketch_store(run.spark, t, os.path.join(run.work, "warm_store"))

    run.timed_setup("warm_up", warm_up)
    indexer = LakeIndexer(run, os.path.join(inputs, "index_lake"), run.truth["index_lake"]["tables"])

    def op(i):
        store = os.path.join(run.work, f"store_{i}")
        with run.tracer.span("op.lake", i):
            indexer.index(store)

        def check():
            try:
                indexer.check(store)
            finally:
                shutil.rmtree(store, ignore_errors=True)

        return len(indexer.names), check

    run.loop(op)


# ----------------------------------------------------------------------
# discovery_search

KIND_CYCLE = ["join", "vector_topk", "join", "union", "join", "subset", "join", "vector_topk", "join", "union"]
ZIPF_S = 1.2
VECTOR_QUERIES = [(q, k) for q in (1, 2, 3, 4) for k in (5, 10)]


def query_catalog(meta: dict) -> dict[str, list[tuple]]:
    """Distinct queries per kind, most popular first. Each query searches
    the other tables of the lake. The catalog's order is fixed (the seed
    changes the data, not which positions are asked), so which queries
    share sub-plans, and hence what a plan cache can reuse, is the same
    for every seed."""
    names = sorted(meta)

    def others(t):
        return tuple(x for x in names if x != t)

    return {
        "join": [(t, c, others(t)) for t in names for c in meta[t]["key_columns"]],
        "union": [(t, others(t)) for t in names],
        "subset": [(t, others(t)) for t in names],
        "vector_topk": list(VECTOR_QUERIES),
    }


def query_stream(catalog: dict, n: int) -> list[tuple[str, tuple]]:
    """Kinds follow a fixed 10-slot cycle (join 50%, union 20%, subset
    10%, vector 20%); within a kind the popularity rank is Zipf-drawn from
    a fixed generator, so which slots repeat an earlier query is the same
    in every run."""
    rng = np.random.default_rng(12345)
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        cat = catalog[kind]
        w = 1.0 / np.arange(1, len(cat) + 1) ** ZIPF_S
        out.append((kind, cat[int(rng.choice(len(cat), p=w / w.sum()))]))
    return out


def discovery_search(run: Run, inputs: str) -> None:
    lake = os.path.join(inputs, "search_lake")
    meta = run.truth["search_lake"]["tables"]
    names = sorted(meta)
    spark = run.spark

    def cols(t):
        return list(meta[t]["columns"])

    def build(kind, q):
        if kind == "join":
            t, c, cs = q
            return (
                lambda: minhash.joinability_search_oph(spark, lake, (t, c), [(x, meta[x]["key_columns"]) for x in cs]),
                lambda: minhash.joinability_oph_oracle_sql((t, c), [(x, meta[x]["key_columns"]) for x in cs]),
            )
        if kind == "union":
            t, cs = q
            return (
                lambda: minhash.unionability_search(spark, lake, t, cols(t), {x: cols(x) for x in cs}),
                lambda: minhash.unionability_oracle_sql(t, cols(t), {x: cols(x) for x in cs}),
            )
        if kind == "subset":
            t, cs = q
            keys = meta[t]["key_columns"]
            return (
                lambda: minhash.subset_search(spark, lake, t, keys, {x: cols(x) for x in cs}),
                lambda: minhash.subset_search_oracle_sql(t, keys, {x: cols(x) for x in cs}),
            )
        qmax, k = q
        return (
            lambda: vector.cosine_topk(tables.load_table(spark, lake, "embeddings"), qmax, k),
            lambda: vector.cosine_topk_oracle_sql("embeddings", qmax, k),
        )

    indexer = LakeIndexer(run, lake, meta)
    store = os.path.join(run.work, "store")

    def deploy():
        # traced runs trace the deployment's index build too: it is the
        # only place this workload calls the indexing layer
        run.tracer.enabled = run.tracer.available
        try:
            with run.tracer.span("op.deploy", -1):
                indexer.index(store)
        finally:
            run.tracer.enabled = False

    run.timed_setup("index", deploy)
    run.note("index.tables_per_s", len(names) / run.setup_parts["index"])
    run.attempted += 1
    try:
        indexer.check(store)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        run.failed += 1

    con = oracle.lake_connection(lake, names + ["embeddings"])
    stream = query_stream(query_catalog(meta), 2000)
    seen: dict[tuple, object] = {}
    tr = run.tracer
    real_load = tables.load_table
    tables.load_table = tr.wrap(real_load, "sources.load_table", lambda: run.op_id)
    joins = []

    def op(i):
        kind, q = stream[i]
        spark_fn, oracle_sql = build(kind, q)
        with tr.span("op.query", i) as sp:
            pdf = run.call(f"search.{kind}", spark_fn, lambda df: df.toPandas())
        if "id" in sp and kind == "join":
            joins.append((sp, len(pdf)))

        def check():
            got = _perturb(pdf) if run.perturb else pdf
            key = (kind, q)
            if key not in seen:
                seen[key] = con.execute(oracle_sql()).fetchdf()
            oracle.compare_frames(got, seen[key], f"{kind} {q}")

        return 1, check

    try:
        # whole kind cycles only, so every run measures the same query mix
        run.loop(op, may_stop=lambda n: n % len(KIND_CYCLE) == 0, limit=len(stream), kind_of=lambda i: stream[i][0])
    finally:
        tables.load_table = real_load
        con.close()
    if tr.spans:
        tr.attribute_stages()
        per = [
            c["input_rows"] / max(n, 1)
            for sp, n in joins
            for c in tr.spans
            if c["parent"] == sp["id"] and c["name"] == "search.join"
        ]
        for v in per:
            run.note("search.join.input_rows_per_result", v)


# ----------------------------------------------------------------------
# curation_ingest

COMPACT_EVERY = 5


def curation_ingest(run: Run, inputs: str) -> None:
    cdir = os.path.join(inputs, "corpus")
    ctruth = run.truth["corpus"]
    planted = {int(k) for k in ctruth["planted"]}
    spark = run.spark
    store = os.path.join(run.work, "sigstore")

    def warm_up():
        wstore = os.path.join(run.work, "warm_sigstore")
        base = tables.load_table(spark, cdir, "base")
        dedup.build_signature_store(base.where("doc_id < 40"), wstore)
        wb = base.where("doc_id >= 40 AND doc_id < 60")
        text.quality_score(wb).write.format("noop").mode("overwrite").save()
        dedup.ingest_dedup_commit(wb, spark, wstore).toPandas()
        dedup.compact_signature_store(spark, wstore)

    def deploy():
        dedup.build_signature_store(tables.load_table(spark, cdir, "base"), store)

    run.timed_setup("warm_up", warm_up)
    run.timed_setup("base_store", deploy)
    accepted_total = [ctruth["base_docs"]]
    recall = [0, 0]

    def op(i):
        batch = ctruth["batches"][i]
        with run.tracer.span("op.batch", i):
            delta = run.load_table(cdir, batch["name"])
            run.call(
                "ingest.quality_score",
                lambda: text.quality_score(delta),
                lambda df: df.write.format("noop").mode("overwrite").save(),
            )
            verdict = run.call(
                "ingest.ingest_dedup_commit",
                lambda: dedup.ingest_dedup_commit(delta, spark, store),
                lambda df: df.toPandas(),
            )
            if (i + 1) % COMPACT_EVERY == 0:
                run.call("ingest.compact_signature_store", lambda: dedup.compact_signature_store(spark, store))

        def check():
            v = verdict
            if run.perturb:
                v = v.assign(accepted=~v["accepted"])
            ids = list(range(batch["first_id"], batch["first_id"] + batch["size"]))
            if sorted(v["delta_id"].tolist()) != ids:
                raise oracle.Mismatch(f"{batch['name']}: verdict rows do not match the batch ids")
            acc = dict(zip(v["delta_id"].tolist(), v["accepted"].tolist()))
            dups = [d for d in ids if d in planted]
            recall[0] += sum(not acc[d] for d in dups)
            recall[1] += len(dups)
            wrong = [d for d in ids if acc[d] == (d in planted)]
            accepted_total[0] += sum(acc.values())
            run.note("operators.dedup.store_files", _dir_bytes(store)[0])
            if wrong:
                raise oracle.Mismatch(f"{batch['name']}: wrong verdict for docs {wrong[:5]}")
            rows = oracle.signature_store_rows(store)
            if rows != accepted_total[0]:
                raise oracle.Mismatch(f"signature store holds {rows} rows, {accepted_total[0]} docs accepted")

        return batch["size"], check

    # whole cycles only, so every run holds the same number of compactions;
    # a traced run takes two, so compaction is traced once and untraced once
    cycles = 2 if run.tracer.available else 1
    run.loop(
        op,
        may_stop=lambda n: n % COMPACT_EVERY == 0 and n >= cycles * COMPACT_EVERY,
        limit=len(ctruth["batches"]),
        kind_of=lambda i: "compact" if (i + 1) % COMPACT_EVERY == 0 else "batch",
    )
    if recall[1]:
        run.note("ingest.planted_dup_recall", recall[0] / recall[1])


WORKLOADS = {
    "lake_index": (lake_index, ("index",)),
    "discovery_search": (discovery_search, ("search",)),
    "curation_ingest": (curation_ingest, ("corpus",)),
}

