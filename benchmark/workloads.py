"""The benchmark workloads: ``motogp_etl`` and ``sql_curation_ann``,
whose parts ``star_sql``, ``corpus_curation`` and ``vector_search`` are
written as workloads of their own and run in one session.

Each workload generates its inputs from the seed, sets up what its ops
need, runs one op at a time (closed loop: the next op starts when the
previous one returns), and checks every op's output after the timed
window. ``traced_op`` runs the same op with a span around each layer
call: the layer's public functions are wrapped for the duration of the
op (see :func:`_patched`), each wrapper forces the layer's inputs
before its span and its output inside it, so a span covers that
layer's own work.
"""

from __future__ import annotations

import glob
import os
import random
import statistics
from contextlib import ExitStack, contextmanager

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen

# ---------------------------------------------------------------------------
# tracing helpers
# ---------------------------------------------------------------------------


@contextmanager
def _patched(module, attr: str, replacement):
    """Swap ``module.attr`` for the duration of a traced op."""
    orig = getattr(module, attr)
    setattr(module, attr, replacement)
    try:
        yield orig
    finally:
        setattr(module, attr, orig)


class _Forcer:
    """Persists and counts DataFrames, and releases them at op end."""

    def __init__(self):
        self.held: list[DataFrame] = []

    def __call__(self, obj) -> int:
        """Materialize every DataFrame in ``obj`` (a DataFrame, tuple or
        dict of them); returns the rows counted."""
        if isinstance(obj, DataFrame):
            self.held.append(obj.persist())
            return obj.count()
        if isinstance(obj, dict):
            obj = list(obj.values())
        if isinstance(obj, (list, tuple)):
            return sum(self(o) for o in obj)
        return 0

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def _layer_wrapper(tracer, force: _Forcer, span: str, fn, meter=None):
    """``fn`` with its DataFrame inputs forced before a span named
    ``span`` and its output forced inside it. The span records the rows
    of each DataFrame argument (``input_rows``, in argument order), the
    output rows and, given a ``meter``, the meter's advance."""

    def wrapped(*args, **kwargs):
        rows = [force(a) for a in args if isinstance(a, DataFrame)]
        before = meter.value() if meter else None
        with tracer.span(span) as rec:
            out = fn(*args, **kwargs)
            out_rows = force(out)
        rec["input_rows"] = rows
        rec["output_rows"] = out_rows
        if meter:
            after = meter.value()
            rec["udf_rows"] = after[0] - before[0]
            rec["udf_s"] = after[1] - before[1]
        return out

    return wrapped


def _count_files(path: str) -> int:
    return sum(
        1 for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Defaults shared by the workloads: every op is of one kind, so op
    0 is the only cold op, and a round is one op."""

    round_len = 1  # ops per round; a run ends on a round boundary
    # untraced hot rounds a run needs, whatever --seconds says: one, as
    # each run also pays a JVM start and a cold round, and the whole
    # measurement pass has a fixed time budget
    min_hot_rounds = 1
    rows_per_op = 1

    def kind(self, i: int) -> str:
        return "op"

    def rows(self, i: int) -> int:
        """Input rows op ``i`` processes."""
        return self.rows_per_op

    def setup(self, spark, tracer) -> None:
        pass


# ---------------------------------------------------------------------------
# motogp_etl
# ---------------------------------------------------------------------------

SINKS = (
    "circuits", "teams", "races", "race_info", "riders_enriched",
    "rider_table", "participation", "team_standings",
)
# dense 1..N surrogate keys the pipeline assigns
DENSE_KEYS = {
    "circuits": "circuit_id",
    "teams": "team_id",
    "races": "id_race",
    "riders_enriched": "id_rider_seq",
}


class MotogpEtl(Workload):
    """The paper's ETL over generated sources in the reference layout:
    one op is ``runner.build_all`` + ``runner.write_all``."""

    name = "motogp_etl"
    scale = 0.25  # multiple of the BASELINE.md source volumes

    def __init__(self, work: str, seed: int):
        self.inputs = os.path.join(work, "inputs")
        self.outputs = os.path.join(work, "out")
        self.truth = gen.gen_motogp(seed, self.inputs, self.scale)
        self.rows_per_op = self.truth["input_rows"]

    def op(self, spark, i: int):
        from lsdm_motogp_data_integration_spark.pipelines.motogp import runner

        out = os.path.join(self.outputs, f"op{i}")
        runner.write_all(runner.build_all(spark, base_dir=self.inputs), out)
        return out

    def traced_op(self, spark, i: int, tracer, udf_meter):
        from lsdm_motogp_data_integration_spark.operators import fuzzy
        from lsdm_motogp_data_integration_spark.pipelines.motogp import (
            circuits, inputs, participation, races_weather, riders, runner,
            teams,
        )
        from lsdm_motogp_data_integration_spark.sources import write_table

        force = _Forcer()
        out = os.path.join(self.outputs, f"op{i}")

        def read_all(spark_, base_dir):
            with tracer.span("sources.read") as rec:
                src = load_all(spark_, base_dir)
                rec["rows"] = force(src)
            return src

        try:
            with ExitStack() as st:
                load_all = st.enter_context(_patched(inputs, "load_all", read_all))
                st.enter_context(_patched(fuzzy, "jaro_winkler_udf", udf_meter.udf))
                fuzzy_join = _layer_wrapper(
                    tracer, force, "operators.fuzzy", fuzzy.similarity_join,
                    udf_meter,
                )
                for mod in (races_weather, participation):
                    st.enter_context(_patched(mod, "similarity_join", fuzzy_join))
                for mod in (circuits, teams, races_weather, riders):
                    st.enter_context(_patched(
                        mod, "add_surrogate_key",
                        _layer_wrapper(tracer, force, "operators.keys",
                                       mod.add_surrogate_key),
                    ))
                with tracer.span("pipelines.motogp.plan"):
                    tables = runner.build_all(spark, base_dir=self.inputs)
            for name, df in tables.items():
                with tracer.span(f"pipelines.motogp.{name}"):
                    force(df)
                with tracer.span("sources.write") as rec:
                    path = f"{out}/{name}"
                    write_table(df, path, partition_by=runner.PARTITIONING.get(name))
                rec["files"] = _count_files(path)
        finally:
            force.release()
        return out

    # -- checks -----------------------------------------------------------

    def prepare_check(self, spark) -> None:
        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        self.expected = {
            name: con.execute(
                oracle[q].replace(entry._REF, self.inputs)
            ).fetchdf()
            for name, q in (
                ("team_standings", "q44_motogp_standings"),
                ("participation", "q45_motogp_participation"),
            )
        }
        con.close()

    @staticmethod
    def _read(con, out: str, name: str, select: str = "*") -> pd.DataFrame:
        return con.execute(
            f"SELECT {select} FROM read_parquet('{out}/{name}/**/*.parquet', "
            "hive_partitioning = true)"
        ).fetchdf()

    def check(self, out: str) -> tuple[bool, str]:
        from check_correctness import compare

        con = duckdb.connect()
        try:
            got = {
                "team_standings": self._read(con, out, "team_standings"),
                # the q45 query re-casts the decimal columns for a
                # representation-stable comparison; do the same here
                "participation": self._read(
                    con, out, "participation",
                    "* REPLACE (CAST(number AS DOUBLE) AS number, "
                    "CAST(speed AS DOUBLE) AS speed, "
                    "CAST(race_id AS BIGINT) AS race_id)",
                ),
            }
            for name, exp in self.expected.items():
                verdict = compare(name, got[name], exp)
                if verdict != "OK" and not verdict.startswith("FLOAT-INEXACT"):
                    return False, f"{name}: {verdict}"
            for name, key in DENSE_KEYS.items():
                n, lo, hi, distinct = con.execute(
                    f"SELECT count(*), min({key}), max({key}), "
                    f"count(DISTINCT {key}) FROM "
                    f"read_parquet('{out}/{name}/**/*.parquet')"
                ).fetchone()
                if not (n > 0 and lo == 1 and hi == n and distinct == n):
                    return False, f"{name}.{key} not dense 1..{n}: {lo}..{hi}, {distinct} distinct"
        finally:
            con.close()
        return True, "ok"

    def quality(self, out: str) -> dict:
        """Link recall and precision of both fuzzy matches against the
        planted truth, over distinct source spellings."""
        con = duckdb.connect()
        try:
            circ = self._read(con, out, "circuits", "name_circuit, circuit_id")
            races = self._read(con, out, "races", "id_race, circuit_name3, circuit_id")
            part = self._read(con, out, "participation", "DISTINCT circuit_name, id_race")
        finally:
            con.close()
        links = self.truth["links"]
        spelling = self.truth["circuit_spelling"]
        by_spelling = {v: k for k, v in spelling.items()}
        cid_name = {
            r.circuit_id: by_spelling.get(r.name_circuit)
            for r in circ.itertuples()
        }
        race_name = {r.id_race: r.circuit_name3 for r in races.itertuples()}
        made = []  # (truth circuit, linked circuit, whether a link was made)
        for key, cid in races.groupby("circuit_name3")["circuit_id"].first().items():
            linked = pd.notna(cid)
            made.append((links.get(key), cid_name.get(cid) if linked else None, linked))
        for r in part.itertuples():
            linked = pd.notna(r.id_race)
            target = race_name.get(r.id_race) if linked else None
            made.append((
                links.get(r.circuit_name.strip().lower()),
                links.get(target) if target is not None else None,
                linked,
            ))
        correct = sum(1 for t, g, _ in made if t is not None and g == t)
        return {
            "recall": correct / max(sum(t is not None for t, _, _ in made), 1),
            "precision": correct / max(sum(ln for _, _, ln in made), 1),
        }

    def layer_metrics(self, tracer, ops) -> dict:
        m = {}
        sp = tracer.per_op

        def med(match, value):
            return _median(sp(match, value))

        m["sources.read_s"] = med(lambda s: s["name"] == "sources.read", lambda s: s["self_s"])
        m["sources.read_rows"] = med(lambda s: s["name"] == "sources.read", lambda s: s["rows"])
        m["sources.read_bytes"] = med(
            lambda s: s["name"] == "sources.read", lambda s: s["spark"]["input_bytes"]
        )
        m["sources.write_s"] = med(lambda s: s["name"] == "sources.write", lambda s: s["self_s"])
        m["sources.write_bytes"] = med(
            lambda s: s["name"] == "sources.write", lambda s: s["spark"]["output_bytes"]
        )
        m["sources.write_files"] = med(lambda s: s["name"] == "sources.write", lambda s: s["files"])
        m["pipelines.motogp.plan_s"] = med(
            lambda s: s["name"] == "pipelines.motogp.plan", lambda s: s["self_s"]
        )
        for sink in SINKS:
            m[f"pipelines.motogp.{sink}.s"] = med(
                lambda s, n=f"pipelines.motogp.{sink}": s["name"] == n,
                lambda s: s["self_s"],
            )
        fz = lambda s: s["name"] == "operators.fuzzy"  # noqa: E731
        m["operators.fuzzy.s"] = med(fz, lambda s: s["self_s"])
        pairs = sp(fz, lambda s: s["udf_rows"])
        # the probe is similarity_join's first argument
        probes = sp(fz, lambda s: s["input_rows"][0])
        m["operators.fuzzy.pairs_scored"] = _median(pairs)
        m["operators.fuzzy.pairs_per_probe"] = _median(
            [p / max(q, 1) for p, q in zip(pairs, probes)]
        )
        m["functions.similarity.udf_s"] = med(fz, lambda s: s["udf_s"])
        m["operators.keys.s"] = med(
            lambda s: s["name"] == "operators.keys", lambda s: s["self_s"]
        )
        # Spark jobs one untraced hot op launches
        m["pipelines.motogp.jobs"] = _median(
            [o["jobs"] for o in ops if "jobs" in o and not o["cold"]]
        )
        return m


# ---------------------------------------------------------------------------
# vector_search
# ---------------------------------------------------------------------------


class VectorSearch(Workload):
    """IVF top-k search served from a persisted, cell-partitioned
    index: set-up trains the codebook and writes the index; one op is
    one query batch read back through ``ivf_topk_from_index``."""

    name = "vector_search"
    n_corpus, n_queries, batch = 4000, 400, 100
    n_cells, nprobe, k, train_iters = 16, 3, 10, 2

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "vectors")
        self.n_batches = gen.gen_vectors(
            seed, self.data, self.n_corpus, self.n_queries, self.batch
        )["n_batches"]
        self.index = os.path.join(work, "index", "ivf")
        self.codebook = os.path.join(work, "index", "codebook")
        self.rows_per_op = self.batch

    def setup(self, spark, tracer) -> None:
        from lsdm_motogp_data_integration_spark.operators import ann

        corpus = spark.read.parquet(f"{self.data}/corpus.parquet")
        with tracer.span("operators.ann.train"):
            mat = ann._train_centroids(
                corpus, "embedding", "vec_id", self.n_cells, self.train_iters
            )
            ann.save_codebook(mat, spark, self.codebook)
        with tracer.span("operators.ann.index_build") as rec:
            ann.build_ivf_index(
                corpus, "embedding", "vec_id", path=self.index,
                codebook=self.codebook,
            )
        rec["files"] = _count_files(self.index)
        self.queries = spark.read.parquet(f"{self.data}/queries.parquet")

    def _search(self, spark, i: int):
        from lsdm_motogp_data_integration_spark.operators import ann

        b = i % self.n_batches
        rows = ann.ivf_topk_from_index(
            spark, self.index, self.queries.filter(F.col("batch") == b),
            "embedding", "vec_id", "query_id", "query_vec",
            codebook=self.codebook, k=self.k, nprobe=self.nprobe,
        ).collect()
        return b, rows

    def op(self, spark, i: int):
        return self._search(spark, i)

    def traced_op(self, spark, i: int, tracer, udf_meter):
        with tracer.span("operators.ann.probe") as rec:
            out = self._search(spark, i)
        rec["queries"] = len({r["query_id"] for r in out[1]})
        return out

    def prepare_check(self, spark) -> None:
        """Exact cosine top-k of every query, with ``cosine_topk``'s
        ranking rule (cosine rounded to 6 places, smaller id first)."""
        corpus = pd.read_parquet(f"{self.data}/corpus.parquet")
        queries = pd.read_parquet(f"{self.data}/queries.parquet")
        c = np.vstack(corpus["embedding"].to_numpy()).astype(np.float64)
        q = np.vstack(queries["query_vec"].to_numpy()).astype(np.float64)
        cos = np.round(
            (q @ c.T)
            / np.linalg.norm(q, axis=1)[:, None]
            / np.linalg.norm(c, axis=1)[None, :],
            6,
        )
        ids = corpus["vec_id"].to_numpy()
        order = np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)
        self.cos = dict(zip(queries["query_id"].tolist(), cos))
        self.exact = {
            qid: set(ids[order[r, : self.k]].tolist())
            for r, qid in enumerate(queries["query_id"].tolist())
        }
        self.batch_of = dict(zip(queries["query_id"], queries["batch"]))

    def check(self, out) -> tuple[bool, str]:
        b, rows = out
        want = {q for q, bb in self.batch_of.items() if bb == b}
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if set(by_q) != want:
            return False, f"batch {b}: result queries differ from the batch"
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            if [r["rank"] for r in rs] != list(range(1, self.k + 1)):
                return False, f"query {qid}: ranks {[r['rank'] for r in rs]}"
            for a, nxt in zip(rs, rs[1:]):
                if (a["cosine"], -a["neighbor_id"]) < (nxt["cosine"], -nxt["neighbor_id"]):
                    return False, f"query {qid}: results out of order"
            for r in rs:
                # corpus ids are row numbers (gen_vectors)
                if abs(self.cos[qid][r["neighbor_id"]] - r["cosine"]) > 2e-6:
                    return False, f"query {qid}: wrong cosine for {r['neighbor_id']}"
        return True, "ok"

    def quality(self, out) -> dict:
        _, rows = out
        hits = sum(r["neighbor_id"] in self.exact[r["query_id"]] for r in rows)
        n_q = len({r["query_id"] for r in rows})
        return {
            "recall": hits / max(n_q * self.k, 1),
            "precision": hits / max(len(rows), 1),
        }

    def layer_metrics(self, tracer, ops) -> dict:
        def med(name, value=lambda s: s["self_s"]):
            return _median(tracer.per_op(lambda s: s["name"] == name, value))

        return {
            "operators.ann.train_s": med("operators.ann.train"),
            "operators.ann.index_build_s": med("operators.ann.index_build"),
            "operators.ann.index_files": med("operators.ann.index_build", lambda s: s["files"]),
            "operators.ann.probe_s": med("operators.ann.probe"),
            # rows the probe's scans read (the index cells it touched,
            # the batch's query row group, the codebook) per query
            "operators.ann.candidates_per_query": med(
                "operators.ann.probe",
                lambda s: s["spark"]["input_rows"] / max(s["queries"], 1),
            ),
        }


# ---------------------------------------------------------------------------
# star_sql
# ---------------------------------------------------------------------------

# the queries and the tables each reads (its input rows)
STAR_TABLES = {
    "q01_pricing_summary": ("lineitem",),
    "q05_join_suite": ("orders", "customer"),
    "q36_asof_join": ("events", "orders"),
    "q38_grouped_zscore": ("events",),
}
STAR_QUERIES = tuple(STAR_TABLES)


def _short(query: str) -> str:
    return query.split("_", 1)[0]


class StarSql(Workload):
    """Relational queries of ``__spark_entry__`` over a generated
    TPC-H-style star schema, round-robin in an order set by the seed;
    one op is one query, collected to the driver."""

    name = "star_sql"

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "star")
        self.table_rows = gen.gen_star(
            seed, self.data, n_customers=600, n_orders=6000, n_suppliers=100,
            lines_per_order=4, n_events=4000, n_users=100,
        )
        self.order = list(STAR_QUERIES)
        random.Random(seed).shuffle(self.order)

    def kind(self, i: int) -> str:
        return self.order[i % len(self.order)]

    def rows(self, i: int) -> int:
        return sum(self.table_rows[t] for t in STAR_TABLES[self.kind(i)])

    def op(self, spark, i: int):
        import __spark_entry__ as entry

        q = self.kind(i)
        return q, entry.queries()[q](spark, self.data).toPandas()

    def traced_op(self, spark, i: int, tracer, udf_meter):
        import __spark_entry__ as entry

        q = self.kind(i)
        with tracer.span(f"query.{_short(q)}.plan"):
            df = entry.queries()[q](spark, self.data)
            df._jdf.queryExecution().executedPlan()
        with tracer.span(f"query.{_short(q)}.exec"):
            return q, df.toPandas()

    def prepare_check(self, spark) -> None:
        """Each query's ``oracle_sql()`` twin, run once on DuckDB."""
        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        for t in self.table_rows:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        self.expected = {q: con.execute(oracle[q]).fetchdf() for q in STAR_QUERIES}
        con.close()

    def check(self, out) -> tuple[bool, str]:
        from check_correctness import compare

        q, got = out
        verdict = compare(q, got, self.expected[q])
        if verdict != "OK" and not verdict.startswith("FLOAT-INEXACT"):
            return False, f"{q}: {verdict}"
        return True, "ok"

    def quality(self, out) -> dict:
        """Rows of the result that are rows of the oracle's (recall over
        the oracle's rows, precision over the result's), as multisets."""
        from collections import Counter

        from check_correctness import canon

        q, got = out
        exp = self.expected[q]

        def rows(df):
            df = canon(df)
            return Counter(
                tuple(
                    None if pd.isna(v) else round(v, 6) if isinstance(v, float) else v
                    for v in r
                )
                for r in df.itertuples(index=False)
            )

        if set(got.columns) != set(exp.columns):
            return {"recall": 0.0, "precision": 0.0}
        g, e = rows(got), rows(exp)
        hit = sum((g & e).values())
        return {
            "recall": hit / max(sum(e.values()), 1),
            "precision": hit / max(sum(g.values()), 1),
        }

    def layer_metrics(self, tracer, ops) -> dict:
        m = {}
        for q in STAR_QUERIES:
            for part in ("plan", "exec"):
                name = f"query.{_short(q)}.{part}"
                m[f"{name}_s"] = _median(
                    tracer.per_op(lambda s, n=name: s["name"] == n, lambda s: s["self_s"])
                )
        return m


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    """``pipelines.curation.curate`` over a generated corpus with planted
    exact and near-duplicate clusters and a holdout that overlaps known
    documents; one op is one ``curate`` call and the writes of its
    ``train`` and ``val`` tables."""

    name = "corpus_curation"
    n_docs, n_exact, n_near, n_contaminated = 250, 12, 12, 8

    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "corpus")
        self.outputs = os.path.join(work, "out")
        self.truth = gen.gen_corpus(
            seed, self.data, self.n_docs, n_sources=10, n_exact=self.n_exact,
            n_near=self.n_near, n_contaminated=self.n_contaminated,
        )
        self.rows_per_op = self.truth["n_docs"]

    def _curate(self, spark, i: int) -> str:
        from lsdm_motogp_data_integration_spark.pipelines.curation import curate
        from lsdm_motogp_data_integration_spark.sources import write_table

        docs = spark.read.parquet(f"{self.data}/documents.parquet")
        holdout = spark.read.parquet(f"{self.data}/holdout.parquet")
        out = os.path.join(self.outputs, f"op{i}")
        tables = curate(docs, holdout=holdout)
        for name in ("train", "val"):
            write_table(tables[name], f"{out}/{name}")
        return out

    def op(self, spark, i: int):
        return self._curate(spark, i)

    def traced_op(self, spark, i: int, tracer, udf_meter):
        from lsdm_motogp_data_integration_spark.operators import dedup
        from lsdm_motogp_data_integration_spark.pipelines import curation

        force = _Forcer()

        def lsh_pairs(df, text_col, id_col, **kw):
            # the banded candidates before exact verification, counted
            # in a child span so the dedup span's self time excludes them
            with tracer.span("operators.dedup.candidates") as rec:
                rec["pairs"] = orig_lsh(
                    df, text_col, id_col, threshold=kw.get("threshold", 0.8),
                    candidates_only=True,
                ).count()
            return orig_lsh(df, text_col, id_col, **kw)

        try:
            with ExitStack() as st:
                for mod, attr, span in (
                    (curation, "_apply_screens", "pipelines.curation.screen"),
                    (curation, "dedup_corpus", "operators.dedup"),
                    (curation, "ngram_decontaminate", "operators.membership.decontam"),
                    (curation, "pack_sequences", "operators.textops.pack"),
                ):
                    st.enter_context(_patched(
                        mod, attr, _layer_wrapper(tracer, force, span, getattr(mod, attr))
                    ))
                orig_lsh = st.enter_context(_patched(dedup, "minhash_lsh_pairs", lsh_pairs))
                return self._curate(spark, i)
        finally:
            force.release()

    # -- checks -----------------------------------------------------------

    def prepare_check(self, spark) -> None:
        docs = pd.read_parquet(f"{self.data}/documents.parquet")
        self.text = dict(zip(docs["doc_id"], docs["text"]))

    def _read(self, out: str) -> tuple[pd.DataFrame, pd.DataFrame]:
        return tuple(
            pd.read_parquet(f"{out}/{name}") for name in ("train", "val")
        )

    def check(self, out: str) -> tuple[bool, str]:
        """Invariants every correct output has: train and val disjoint,
        texts unchanged (the corpus carries no PII), one survivor (the
        smallest id) per exact-duplicate cluster, no document that
        shares a passage with the holdout, and each document's sequence
        slot equal to the token count of its source's earlier documents
        (in id order) divided by the packing budget."""
        train, val = self._read(out)
        both = pd.concat([train, val], ignore_index=True)
        ids = both["doc_id"].tolist()
        if len(set(ids)) != len(ids):
            return False, "a document is in train and val, or twice in one"
        for r in both.itertuples():
            if self.text.get(r.doc_id) != r.text:
                return False, f"doc {r.doc_id}: text differs from the input"
        kept = set(ids)
        leaked = kept & set(self.truth["contaminated"])
        if leaked:
            return False, f"contaminated docs kept: {sorted(leaked)[:5]}"
        for kind, members in self.truth["clusters"]:
            survivors = kept & set(members)
            if kind == "exact" and not survivors <= {min(members)}:
                return False, f"exact-duplicate cluster {members} kept {sorted(survivors)}"
        both = both.sort_values(["source", "doc_id"])
        if not (both["n_tokens"] == both["text"].str.split().str.len()).all():
            return False, "n_tokens differs from the word count"
        prev = both.groupby("source")["n_tokens"].cumsum() - both["n_tokens"]
        budget = 2048  # curate's default pack_budget
        if not ((both["seq_id"] == prev // budget).all()
                and (both["seq_offset"] == prev % budget).all()):
            return False, "sequence packing differs from the running token count"
        return True, "ok"

    def quality(self, out: str) -> dict:
        """Recall and precision of duplicate removal against the planted
        clusters (every member but the smallest id is a duplicate);
        removals of contaminated documents are not dedup's."""
        train, val = self._read(out)
        kept = set(train["doc_id"]) | set(val["doc_id"])
        dups = {m for _, members in self.truth["clusters"] for m in members[1:]}
        removed = set(self.text) - kept - set(self.truth["contaminated"])
        hit = len(dups & removed)
        return {
            "recall": hit / max(len(dups), 1),
            "precision": hit / max(len(removed), 1),
        }

    def layer_metrics(self, tracer, ops) -> dict:
        def med(name, value=lambda s: s["self_s"]):
            return _median(tracer.per_op(lambda s: s["name"] == name, value))

        cands = tracer.per_op(
            lambda s: s["name"] == "operators.dedup.candidates", lambda s: s["pairs"]
        )
        removed = tracer.per_op(
            lambda s: s["name"] == "operators.dedup",
            lambda s: s["input_rows"][0] - s["output_rows"],
        )
        return {
            "pipelines.curation.screen_s": med("pipelines.curation.screen"),
            "operators.dedup.s": med("operators.dedup"),
            "operators.dedup.candidate_pairs": _median(cands),
            "operators.dedup.pairs_per_dup": _median(
                [c / max(r, 1) for c, r in zip(cands, removed)]
            ),
            "operators.membership.decontam_s": med("operators.membership.decontam"),
            "operators.textops.pack_s": med("operators.textops.pack"),
        }


# ---------------------------------------------------------------------------
# sql_curation_ann
# ---------------------------------------------------------------------------


class SqlCurationAnn(Workload):
    """The star-schema queries, corpus curation and IVF search in one
    session: a round is the ``StarSql`` queries in the seed's
    order, one ``CorpusCuration`` op and ``ann_per_round``
    ``VectorSearch`` batches. Each part keeps its own inputs, op, check,
    quality and layer metrics; an op's output is ``(part, output)``."""

    name = "sql_curation_ann"
    ann_per_round = 2

    def __init__(self, work: str, seed: int):
        self.parts = {
            w.name: w(work, seed) for w in (StarSql, CorpusCuration, VectorSearch)
        }
        self.plan = (
            [(StarSql.name, j) for j in range(len(STAR_QUERIES))]
            + [(CorpusCuration.name, 0)]
            + [(VectorSearch.name, j) for j in range(self.ann_per_round)]
        )
        self.round_len = len(self.plan)
        self.per_round = {
            name: sum(p == name for p, _ in self.plan) for name in self.parts
        }

    def _locate(self, i: int):
        """The part op ``i`` runs and its index among that part's ops."""
        r, j = divmod(i, self.round_len)
        name, k = self.plan[j]
        return name, self.parts[name], r * self.per_round[name] + k

    def kind(self, i: int) -> str:
        name, part, j = self._locate(i)
        return f"{name}.{part.kind(j)}"

    def rows(self, i: int) -> int:
        _, part, j = self._locate(i)
        return part.rows(j)

    def setup(self, spark, tracer) -> None:
        for part in self.parts.values():
            part.setup(spark, tracer)

    def op(self, spark, i: int):
        name, part, j = self._locate(i)
        return name, part.op(spark, j)

    def traced_op(self, spark, i: int, tracer, udf_meter):
        name, part, j = self._locate(i)
        return name, part.traced_op(spark, j, tracer, udf_meter)

    def prepare_check(self, spark) -> None:
        for part in self.parts.values():
            part.prepare_check(spark)

    def check(self, out) -> tuple[bool, str]:
        name, got = out
        return self.parts[name].check(got)

    def quality(self, out) -> dict:
        name, got = out
        return dict(self.parts[name].quality(got), family=name)

    def layer_metrics(self, tracer, ops) -> dict:
        m = {}
        for part in self.parts.values():
            m.update(part.layer_metrics(tracer, ops))
        return m


WORKLOADS = {w.name: w for w in (MotogpEtl, SqlCurationAnn)}
