"""The four workloads: their inputs, their pipeline steps and the checks
that hold each step's output against a NumPy reference.

Each step is one call into a public function of the package, named
``<module>.<function>``, plus the write that materializes its whole
result (parquet, or the ``noop`` sink where the output is not read
again).  Steps read their input from the previous step's parquet
output, so a step's time covers its own call and nothing upstream.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_randgen_spark import plans
from datafusion_randgen_spark.functions import text
from datafusion_randgen_spark.operators import bpe, clustering, dedup, graph, joins, scale, similarity
from datafusion_randgen_spark.sources import synthetic

from perfbench import inputs
from perfbench.trace import EventLog, Span


@dataclass
class Ctx:
    spark: SparkSession
    data: Path  # generated inputs
    out: Path  # step outputs
    seed: int
    pass_index: int = 0  # 0 is the cold pass
    state: dict = field(default_factory=dict)  # kept across passes


@dataclass
class Step:
    name: str  # <module>.<function>
    run: Callable[[Ctx], dict]  # returns facts the check and the trace read
    check: Callable[[Ctx, dict], list[str]]  # problems found; empty when correct


def write(df: DataFrame, path: Path) -> None:
    df.write.mode("overwrite").parquet(str(path))


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def read(ctx: Ctx, name: str) -> DataFrame:
    """A previous step's output."""
    return ctx.spark.read.parquet(str(ctx.out / name))


def read_input(ctx: Ctx, name: str) -> DataFrame:
    """A generated input table."""
    return ctx.spark.read.parquet(str(ctx.data / name))


INPUT_FILES = 8


def write_input(table, path: Path) -> None:
    """Write a generated table as ``INPUT_FILES`` parquet files, so the
    scan splits across cores the way a real multi-file input does."""
    path.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for i in range(INPUT_FILES):
        lo, hi = n * i // INPUT_FILES, n * (i + 1) // INPUT_FILES
        pq.write_table(table.slice(lo, hi - lo), path / f"part-{i:03d}.parquet")


def frame(path: Path) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def pairs_of(pdf: pd.DataFrame) -> set[tuple[int, int]]:
    return set(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))


def expect(problems: list[str], ok: bool, message: str) -> None:
    if not ok:
        problems.append(message)


class Workload:
    name = ""  # set on the workloads the benchmark runs
    why = ""
    #: extra per-layer metrics this workload reports in traced runs
    extra_metrics: dict[str, str] = {}
    #: untimed passes between the cold pass and the timed ones
    warmup_passes = 0

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, data: Path) -> None:
        """Generate the inputs and write them as parquet (timed as set-up)."""

    def input_rows(self) -> int:
        raise NotImplementedError

    def prepare(self) -> None:
        """Compute the references the checks use (not timed)."""

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def traced_counts(self, ctx: Ctx, facts: dict[str, dict]) -> dict[str, float]:
        """Counts measured once, after the traced passes, by calling the
        package's public functions (not timed)."""
        return {}

    def log_metrics(self, spans: dict[str, Span], log: EventLog, facts: dict[str, dict]) -> dict[str, float]:
        """Per-pass metrics derived from one traced pass's spans and log."""
        return {}


# ---------------------------------------------------------------------------
# gen
# ---------------------------------------------------------------------------

GEN_SPEC = {
    "user_id": {"kind": "int64_uniform", "lo": 1, "hi": 10_000_000},
    "score": {"kind": "float64_normal", "mean": 0.0, "std": 1.0},
    "joined": {"kind": "timestamp_uniform", "lo": "2024-01-01", "hi": "2024-12-31"},
    "country": {"kind": "element_from_weighted", "values": ["US", "DE", "IN", "BR"], "weights": [5, 2, 3, 1]},
    "hot_key": {"kind": "zipf", "n": 1000, "s": 1.2},
    "name": {"kind": "string_alpha", "length": 12},
}


def check_synthetic(pdf: pd.DataFrame, n_rows: int) -> list[str]:
    p: list[str] = []
    expect(p, len(pdf) == n_rows, f"{len(pdf)} rows, expected {n_rows}")
    expect(p, pdf["id"].nunique() == n_rows and pdf["id"].min() == 0, "row ids are not 0..n-1")
    expect(p, pdf["user_id"].between(1, 10_000_000).all(), "user_id out of [1, 1e7]")
    expect(p, abs(pdf["score"].mean()) < 0.05 and abs(pdf["score"].std() - 1) < 0.05, "score is not N(0, 1)")
    lo, hi = pd.Timestamp("2024-01-01", tz="UTC"), pd.Timestamp("2024-12-31", tz="UTC")
    joined = pd.to_datetime(pdf["joined"], utc=True)
    expect(p, joined.between(lo, hi).all(), "joined out of [2024-01-01, 2024-12-31]")
    expect(p, set(pdf["country"].unique()) <= {"US", "DE", "IN", "BR"}, "country outside its values")
    expect(p, pdf["hot_key"].between(1, 1000).all(), "hot_key out of [1, 1000]")
    expect(p, pdf["hot_key"].value_counts().idxmax() == 1, "hot_key mode is not 1")
    expect(p, pdf["name"].str.fullmatch("[a-z]{12}").all(), "name is not 12 lowercase letters")
    return p


def content_hash(pdf: pd.DataFrame) -> int:
    """Order-independent hash of a frame's rows."""
    return int(pd.util.hash_pandas_object(pdf, index=False).sum())


class Gen(Workload):
    name = "gen"
    why = "generation only: sources.synthetic and the functions.randgen UDF; their step .s moves wall_s here, and no shuffle or operator runs, so operator changes leave it unchanged"
    extra_metrics = {"randgen_int64_uniform.python_eval_nodes": "count"}
    # the first warm pass still runs ~20% slow; pipelines cannot afford one
    warmup_passes = 1
    SEEDED_ROWS = 100_000
    VOLATILE_ROWS = 200_000
    UDF_ROWS = 100_000
    SAMPLE_ROWS = 20_000

    def generate(self, data: Path) -> None:
        write_input(inputs.udf_args(self.seed, self.UDF_ROWS), data / "udf_args")

    def input_rows(self) -> int:
        return self.SEEDED_ROWS + self.VOLATILE_ROWS + self.UDF_ROWS

    def prepare(self) -> None:
        args = inputs.udf_args(self.seed, self.UDF_ROWS)
        self.null_rows = int((args["lo"].is_null().to_numpy(zero_copy_only=False) | args["hi"].is_null().to_numpy(zero_copy_only=False)).sum())

    def steps(self) -> list[Step]:
        return [
            Step("sources.synthetic.write_synthetic", self._seeded, self._check_seeded),
            Step("sources.synthetic.synthetic_table", self._volatile, self._check_volatile),
            Step("functions.randgen.randgen_int64_uniform", self._udf, self._check_udf),
        ]

    def _seeded(self, ctx: Ctx) -> dict:
        synthetic.write_synthetic(ctx.spark, str(ctx.out / "seeded"), self.SEEDED_ROWS, GEN_SPEC, seed=ctx.seed)
        return {}

    def _check_seeded(self, ctx: Ctx, facts: dict) -> list[str]:
        pdf = frame(ctx.out / "seeded")
        digest = content_hash(pdf)
        first = ctx.state.setdefault("seeded_hash", digest)
        p = check_synthetic(pdf, self.SEEDED_ROWS) if ctx.pass_index == 0 else []
        expect(p, digest == first, "seeded output differs from the first pass")
        return p

    def _volatile(self, ctx: Ctx) -> dict:
        noop(synthetic.synthetic_table(ctx.spark, self.VOLATILE_ROWS, GEN_SPEC))
        return {}

    def _check_volatile(self, ctx: Ctx, facts: dict) -> list[str]:
        if ctx.pass_index:
            return []
        # the noop sink keeps nothing, so check a small draw of the same spec
        sample = synthetic.synthetic_table(ctx.spark, self.SAMPLE_ROWS, GEN_SPEC).toPandas()
        return check_synthetic(sample, self.SAMPLE_ROWS)

    def _udf_frame(self, ctx: Ctx) -> DataFrame:
        args = read_input(ctx, "udf_args")
        args.createOrReplaceTempView("udf_args")
        return ctx.spark.sql("SELECT row_id, lo, hi, randgen_int64_uniform(lo, hi) AS x FROM udf_args")

    def _udf(self, ctx: Ctx) -> dict:
        df = self._udf_frame(ctx)
        noop(df)
        return {"frame": df}

    def _check_udf(self, ctx: Ctx, facts: dict) -> list[str]:
        if ctx.pass_index:
            return []
        row = (
            self._udf_frame(ctx)
            .agg(
                F.count("*").alias("n"),
                F.count_if(F.col("x").isNull()).alias("nulls"),
                F.count_if((F.col("x") < F.col("lo")) | (F.col("x") > F.col("hi"))).alias("outside"),
            )
            .first()
        )
        p: list[str] = []
        expect(p, row["n"] == self.UDF_ROWS, f"{row['n']} rows, expected {self.UDF_ROWS}")
        expect(p, row["nulls"] == self.null_rows, f"{row['nulls']} null results, expected {self.null_rows}")
        expect(p, row["outside"] == 0, f"{row['outside']} draws outside [lo, hi]")
        return p

    def traced_counts(self, ctx: Ctx, facts: dict[str, dict]) -> dict[str, float]:
        df = facts["functions.randgen.randgen_int64_uniform"]["frame"]
        return {"randgen_int64_uniform.python_eval_nodes": float(plans.python_eval_nodes(df))}


# ---------------------------------------------------------------------------
# text_dedup
# ---------------------------------------------------------------------------


class TextDedup(Workload):
    """Section ``text_dedup``: quality filter, exact and MinHash dedup,
    components and BPE over planted Zipf-sized duplicate clusters.  The
    read side of parquet; shuffle- and driver-loop-heavy."""

    extra_metrics = {
        "minhash_lsh_dedup_pairs.verified_per_candidate": "ratio",
        "connected_components.rounds": "count",
        "bpe_train.s_per_merge": "s",
    }
    DOCS = 2_500
    QUALITY_MIN = 0.75
    JACCARD_MIN = 0.7
    MERGES = 3
    MIN_RECALL = 0.95

    def generate(self, data: Path) -> None:
        self.corpus = inputs.text_corpus(self.seed, self.DOCS)
        write_input(self.corpus.table, data / "docs")

    def input_rows(self) -> int:
        return self.DOCS

    def prepare(self) -> None:
        c = self.corpus
        self.good = set(c.texts) - c.junk_ids
        self.exact_reps = set(inputs.exact_groups(c.texts, self.good).values())
        self.planted = inputs.planted_pairs(c, self.exact_reps, self.JACCARD_MIN)

    def steps(self) -> list[Step]:
        return [
            Step("functions.text.quality_score", self._quality, self._check_quality),
            Step("operators.dedup.exact_dedup", self._exact, self._check_exact),
            Step("operators.dedup.minhash_lsh_dedup_pairs", self._minhash, self._check_minhash),
            Step("operators.dedup.connected_components", self._components, self._check_components),
            Step("operators.bpe.bpe_train", self._bpe, self._check_bpe),
        ]

    def _quality(self, ctx: Ctx) -> dict:
        docs = read_input(ctx, "docs")
        write(docs.filter(text.quality_score(F.col("text")) >= self.QUALITY_MIN), ctx.out / "quality")
        return {}

    def _check_quality(self, ctx: Ctx, facts: dict) -> list[str]:
        ids = set(frame(ctx.out / "quality")["doc_id"].tolist())
        return [] if ids == self.good else [f"quality filter kept {len(ids)} docs, expected the {len(self.good)} non-junk docs"]

    def _exact(self, ctx: Ctx) -> dict:
        q = read(ctx, "quality")
        write(q.join(dedup.exact_dedup(q).select("doc_id"), "doc_id"), ctx.out / "exact")
        return {}

    def _check_exact(self, ctx: Ctx, facts: dict) -> list[str]:
        ids = set(frame(ctx.out / "exact")["doc_id"].tolist())
        return [] if ids == self.exact_reps else [f"exact dedup kept {len(ids)} docs, expected {len(self.exact_reps)}"]

    def _minhash(self, ctx: Ctx) -> dict:
        write(dedup.minhash_lsh_dedup_pairs(read(ctx, "exact"), threshold=self.JACCARD_MIN), ctx.out / "pairs")
        return {}

    def _check_minhash(self, ctx: Ctx, facts: dict) -> list[str]:
        pdf = frame(ctx.out / "pairs")
        found = pairs_of(pdf)
        p: list[str] = []
        recall = len(found & self.planted) / max(1, len(self.planted))
        expect(p, recall >= self.MIN_RECALL, f"planted-pair recall {recall:.3f} < {self.MIN_RECALL}")
        texts = self.corpus.texts
        wrong = sum(
            1
            for a, b, j in zip(pdf["id_a"], pdf["id_b"], pdf["jaccard"])
            if a >= b or abs(inputs.jaccard(texts[a], texts[b]) - j) > 1e-6 or j < self.JACCARD_MIN
        )
        expect(p, wrong == 0, f"{wrong} pairs with a wrong Jaccard")
        return p

    def _components(self, ctx: Ctx) -> dict:
        """Components of the pair graph, then one document kept per component."""
        write(dedup.connected_components(read(ctx, "pairs")), ctx.out / "components")
        comps = read(ctx, "components")
        dropped = comps.filter(F.col("node") != F.col("comp")).select(F.col("node").alias("doc_id"))
        write(read(ctx, "exact").join(dropped, "doc_id", "left_anti"), ctx.out / "survivors")
        return {}

    def _check_components(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "components")
        ref = inputs.min_label_components(pairs_of(frame(ctx.out / "pairs")))
        # the docstring names the label column `component`; the frame has `comp`
        labels = dict(zip(got["node"].tolist(), got["comp"].tolist()))
        p: list[str] = []
        wrong = sum(labels.get(k) != v for k, v in ref.items())
        expect(p, labels == ref, f"component labels differ from union-find on {wrong} nodes")
        expected = self.exact_reps - {k for k, v in ref.items() if k != v}
        kept = set(frame(ctx.out / "survivors")["doc_id"].tolist())
        expect(p, kept == expected, f"{len(kept)} survivors, expected {len(expected)}")
        return p

    def _bpe(self, ctx: Ctx) -> dict:
        merges, words = bpe.bpe_train(read(ctx, "survivors"), n_merges=self.MERGES)
        write(merges, ctx.out / "merges")
        noop(words)
        return {}

    def _check_bpe(self, ctx: Ctx, facts: dict) -> list[str]:
        survivors = frame(ctx.out / "survivors")
        key = frozenset(survivors["doc_id"].tolist())
        if ctx.state.get("bpe_key") != key:
            ctx.state["bpe_key"] = key
            ctx.state["bpe_ref"] = inputs.bpe_merges(survivors["text"].tolist(), self.MERGES)
        got = frame(ctx.out / "merges").sort_values("merge_rank")
        got = list(zip(got["left_sym"], got["right_sym"], got["pair_count"].astype(int)))
        return [] if got == ctx.state["bpe_ref"] else ["BPE merges differ from the reference trainer"]

    def traced_counts(self, ctx: Ctx, facts: dict[str, dict]) -> dict[str, float]:
        docs = read(ctx, "exact")
        candidates = dedup.minhash_lsh_candidates(dedup.minhash_signatures(docs)).count()
        verified = len(frame(ctx.out / "pairs"))
        return {"minhash_lsh_dedup_pairs.verified_per_candidate": verified / max(1, candidates)}

    def log_metrics(self, spans: dict[str, Span], log: EventLog, facts: dict[str, dict]) -> dict[str, float]:
        cc = spans["operators.dedup.connected_components"]
        # one convergence probe per round, after the initial label sum
        return {
            "connected_components.rounds": float(log.actions_of(cc.span_id, "collect at") - 1),
            "bpe_train.s_per_merge": spans["operators.bpe.bpe_train"].duration / self.MERGES,
        }


# ---------------------------------------------------------------------------
# embed_search
# ---------------------------------------------------------------------------


class EmbedSearch(Workload):
    """Section ``embed_search``: k-means, brute-force and IVF top-k, and
    LSH near-duplicates over clustered vectors.  Python work inside the
    operators, and the candidate volume they waste."""

    extra_metrics = {
        "kmeans.s_per_iter": "s",
        "ivf_ann_topk.scored_per_query": "count",
        "ivf_ann_topk.recall_at_10": "ratio",
        "embedding_near_dup_pairs.verified_per_candidate": "ratio",
        "brute_force_topk.python_eval_nodes": "count",
        "ivf_ann_topk.python_eval_nodes": "count",
        "embedding_near_dup_pairs.python_eval_nodes": "count",
    }
    VECTORS = 2_500
    DIM = 64
    QUERIES = 100
    DUP_SUBSET = 800
    DUP_PAIRS = 80
    K = 10
    CLUSTERS = 16
    ITERATIONS = 2
    IVF_PROBE = 4
    NEAR_DUP = dict(threshold=0.95, dim=DIM, nbits=16, ntables=16, probe=1, seed=7)
    MIN_RECALL = 0.95

    def generate(self, data: Path) -> None:
        self.vec = inputs.clustered_vectors(self.seed, self.VECTORS, self.DIM, n_queries=self.QUERIES, dup_n=self.DUP_SUBSET, dup_pairs=self.DUP_PAIRS)
        write_input(inputs.vector_table(self.vec.corpus), data / "corpus")
        write_input(inputs.vector_table(self.vec.queries, inputs.QUERY_ID_BASE), data / "queries")
        write_input(inputs.vector_table(self.vec.dup_subset), data / "dup_subset")

    def input_rows(self) -> int:
        return self.VECTORS + self.QUERIES + self.DUP_SUBSET

    def prepare(self) -> None:
        self.top1, self.top1_sim = inputs.brute_top1(self.vec.corpus, self.vec.queries)
        self.near = inputs.cosine_pairs_above(self.vec.dup_subset, self.NEAR_DUP["threshold"])

    def steps(self) -> list[Step]:
        return [
            Step("operators.clustering.kmeans", self._kmeans, self._check_kmeans),
            Step("operators.similarity.brute_force_topk", self._brute, self._check_brute),
            Step("operators.similarity.ivf_ann_topk", self._ivf, self._check_ivf),
            Step("operators.similarity.embedding_near_dup_pairs", self._near_dup, self._check_near_dup),
        ]

    def _kmeans(self, ctx: Ctx) -> dict:
        centroids, _, assign = clustering.kmeans(read_input(ctx, "corpus"), k=self.CLUSTERS, iterations=self.ITERATIONS)
        write(assign, ctx.out / "assign")
        return {"centroids": centroids}

    def _check_kmeans(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "assign").sort_values("vec_id")
        ref = inputs.argmin_rows(self.vec.corpus, facts["centroids"])
        wrong = int((got["cluster"].to_numpy() != ref).sum())
        # a point equidistant from two centroids may go either way
        return [] if len(got) == self.VECTORS and wrong <= 2 else [f"{wrong} of {len(got)} points not at their nearest centroid"]

    def _brute(self, ctx: Ctx) -> dict:
        df = similarity.brute_force_topk(read_input(ctx, "corpus"), read_input(ctx, "queries"), k=self.K)
        write(df, ctx.out / "brute")
        return {"frame": df}

    def _check_brute(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "brute")
        top = got[got["rank"] == 1].sort_values("query_id")
        p: list[str] = []
        expect(p, len(got) == self.QUERIES * self.K, f"{len(got)} rows, expected {self.QUERIES * self.K}")
        sims_ok = np.abs(top["sim"].to_numpy() - self.top1_sim) <= 1e-6
        ids_ok = top["neighbor_id"].to_numpy() == self.top1
        expect(p, len(top) == self.QUERIES and sims_ok.all(), "top-1 similarity differs from NumPy")
        expect(p, ids_ok.sum() >= self.QUERIES - 2, f"top-1 id differs from NumPy on {int((~ids_ok).sum())} queries")
        return p

    def _ivf(self, ctx: Ctx) -> dict:
        df = similarity.ivf_ann_topk(
            read_input(ctx, "corpus"), read_input(ctx, "queries"), k=self.K, n_clusters=self.CLUSTERS, n_probe=self.IVF_PROBE
        )
        write(df, ctx.out / "ivf")
        return {"frame": df}

    def _check_ivf(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "ivf")
        q = inputs.unit_rows(self.vec.queries[(got["query_id"] - inputs.QUERY_ID_BASE).to_numpy()])
        c = inputs.unit_rows(self.vec.corpus[got["neighbor_id"].to_numpy()])
        err = np.abs(np.round((q * c).sum(1), 6) - got["sim"].to_numpy())
        p: list[str] = []
        expect(p, (err <= 1e-6).all(), f"{int((err > 1e-6).sum())} IVF similarities differ from NumPy")
        expect(p, got.groupby("query_id")["rank"].max().le(self.K).all(), "more than k results for a query")
        brute = frame(ctx.out / "brute")
        hits = len(set(zip(got["query_id"], got["neighbor_id"])) & set(zip(brute["query_id"], brute["neighbor_id"])))
        ctx.state["recall_at_10"] = hits / len(brute)
        return p

    def _near_dup(self, ctx: Ctx) -> dict:
        df = similarity.embedding_near_dup_pairs(read_input(ctx, "dup_subset"), **self.NEAR_DUP)
        write(df, ctx.out / "near_dup")
        return {"frame": df}

    def _check_near_dup(self, ctx: Ctx, facts: dict) -> list[str]:
        found = pairs_of(frame(ctx.out / "near_dup"))
        p: list[str] = []
        expect(p, found <= self.near, f"{len(found - self.near)} pairs below the threshold in NumPy")
        recall = len(found & self.vec.planted) / len(self.vec.planted)
        expect(p, recall >= self.MIN_RECALL, f"planted near-duplicate recall {recall:.3f} < {self.MIN_RECALL}")
        return p

    def traced_counts(self, ctx: Ctx, facts: dict[str, dict]) -> dict[str, float]:
        corpus, queries = read_input(ctx, "corpus"), read_input(ctx, "queries")
        cents = similarity.ivf_centroids(corpus, self.CLUSTERS)
        scored = (
            similarity.ivf_assign(corpus, cents, 1)
            .join(similarity.ivf_assign(queries, cents, self.IVF_PROBE).withColumnRenamed("id", "qid"), "centroid_id")
            .select("qid", "id")
            .distinct()
            .count()
        )
        nd = self.NEAR_DUP
        codes = similarity.hyperplane_codes(read_input(ctx, "dup_subset"), nd["dim"], nd["nbits"], nd["ntables"], nd["seed"])
        masks = [m for m in range(1 << nd["nbits"]) if bin(m).count("1") <= nd["probe"]]
        probed = codes.select("id", "table", F.explode(F.array(*[F.col("code").bitwiseXOR(F.lit(m)) for m in masks])).alias("code"))
        candidates = (
            codes.alias("a")
            .join(probed.alias("b"), ["table", "code"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select("a.id", "b.id")
            .distinct()
            .count()
        )
        verified = len(frame(ctx.out / "near_dup"))
        out = {
            "ivf_ann_topk.scored_per_query": scored / self.QUERIES,
            "ivf_ann_topk.recall_at_10": ctx.state["recall_at_10"],
            "embedding_near_dup_pairs.verified_per_candidate": verified / max(1, candidates),
        }
        for step in ("brute_force_topk", "ivf_ann_topk", "embedding_near_dup_pairs"):
            df = facts[f"operators.similarity.{step}"]["frame"]
            out[f"{step}.python_eval_nodes"] = float(plans.python_eval_nodes(df))
        return out

    def log_metrics(self, spans: dict[str, Span], log: EventLog, facts: dict[str, dict]) -> dict[str, float]:
        return {"kmeans.s_per_iter": spans["operators.clustering.kmeans"].duration / self.ITERATIONS}


# ---------------------------------------------------------------------------
# event_analytics
# ---------------------------------------------------------------------------


class EventAnalytics(Workload):
    """Section ``event_analytics``: sessionize, exact percentiles, PageRank
    and BFS over Zipf-active users and a graph.  The joins, scale and
    graph operators, JVM only."""

    EVENTS = 30_000
    USERS = 1_500
    NODES = 3_000
    EDGES = 15_000
    PERCENTILES = [0.5, 0.9, 0.99]
    DAMPING = 0.85
    PR_ITERATIONS = 2
    BFS_HOPS = 3

    def generate(self, data: Path) -> None:
        self.ev = inputs.events(self.seed, self.EVENTS, self.USERS)
        self.edges = inputs.graph(self.seed, self.NODES, self.EDGES)
        write_input(self.ev.events, data / "events")
        write_input(self.edges, data / "edges")

    def input_rows(self) -> int:
        return self.EVENTS + self.edges.num_rows

    def prepare(self) -> None:
        ev = self.ev.events.to_pandas()
        self.pcts = {
            (int(cat), p): float(np.percentile(g.to_numpy(), 100 * p))
            for cat, g in ev.groupby("category")["price"]
            for p in self.PERCENTILES
        }
        self.ranks = inputs.pagerank(self.edges, self.DAMPING, self.PR_ITERATIONS)
        self.dist = inputs.bfs(self.edges, 0, self.BFS_HOPS)

    def steps(self) -> list[Step]:
        return [
            Step("operators.joins.sessionize", self._sessionize, self._check_sessionize),
            Step("operators.scale.exact_percentiles", self._percentiles, self._check_percentiles),
            Step("operators.graph.pagerank", self._pagerank, self._check_pagerank),
            Step("operators.graph.bfs_distances", self._bfs, self._check_bfs),
        ]

    def _sessionize(self, ctx: Ctx) -> dict:
        write(joins.sessionize(read_input(ctx, "events"), ["user_id"], "ts", 30, agg_value="amount"), ctx.out / "sessions")
        return {}

    def _check_sessionize(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "sessions")
        per_user = got.groupby("user_id").size().to_dict()
        p: list[str] = []
        expect(p, per_user == self.ev.sessions_per_user, "sessions per user differ from the generator's")
        expect(p, int(got["n_events"].sum()) == self.EVENTS, "sessions do not cover every event")
        return p

    def _percentiles(self, ctx: Ctx) -> dict:
        write(scale.exact_percentiles(read_input(ctx, "events"), "category", "price", self.PERCENTILES), ctx.out / "percentiles")
        return {}

    def _check_percentiles(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "percentiles")
        vals = {(int(c), round(p, 6)): v for c, p, v in zip(got["category"], got["p"], got["pct_value"])}
        bad = sum(1 for (c, p), ref in self.pcts.items() if abs(vals.get((c, round(p, 6)), np.nan) - ref) > 1e-9 * max(1.0, abs(ref)))
        ok = bad == 0 and len(vals) == len(self.pcts)
        return [] if ok else [f"{bad} of {len(self.pcts)} percentiles differ from NumPy"]

    def _pagerank(self, ctx: Ctx) -> dict:
        write(graph.pagerank(read_input(ctx, "edges"), self.DAMPING, self.PR_ITERATIONS), ctx.out / "pagerank")
        return {}

    def _check_pagerank(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "pagerank")
        ranks = dict(zip(got["node"].tolist(), got["rank"].tolist()))
        p: list[str] = []
        expect(p, abs(sum(ranks.values()) - 1.0) < 1e-3, f"ranks sum to {sum(ranks.values()):.6f}, not 1")
        expect(p, ranks.keys() == self.ranks.keys(), "rank nodes differ from the graph's")
        # both round to 6 places each iteration, half-up against half-even
        err = max((abs(ranks.get(n, 0.0) - r) for n, r in self.ranks.items()), default=0.0)
        expect(p, err <= 2e-6, f"ranks differ from NumPy by {err:.2e}")
        return p

    def _bfs(self, ctx: Ctx) -> dict:
        write(graph.bfs_distances(read_input(ctx, "edges"), 0, self.BFS_HOPS), ctx.out / "bfs")
        return {}

    def _check_bfs(self, ctx: Ctx, facts: dict) -> list[str]:
        got = frame(ctx.out / "bfs")
        dist = dict(zip(got["node"].tolist(), got["dist"].tolist()))
        return [] if dist == self.dist else [f"BFS distances differ from NumPy on {len(set(dist.items()) ^ set(self.dist.items()))} nodes"]


class Pipelines(Workload):
    """The LLM-data and analytics operators, run as three sections of one
    pipeline pass so that the whole suite fits its time budget."""

    name = "pipelines"
    why = "dedup/bpe, similarity/clustering and joins/scale/graph steps: their .s, .jobs, .task_cpu_s and .outside_jobs_s move wall_s and cold_s here; generation code is not run"
    SECTIONS = (TextDedup, EmbedSearch, EventAnalytics)
    extra_metrics = {k: v for section in SECTIONS for k, v in section.extra_metrics.items()}

    def __init__(self, seed: int):
        super().__init__(seed)
        self.sections = [section(seed) for section in self.SECTIONS]

    def generate(self, data: Path) -> None:
        for s in self.sections:
            s.generate(data)

    def input_rows(self) -> int:
        return sum(s.input_rows() for s in self.sections)

    def prepare(self) -> None:
        for s in self.sections:
            s.prepare()

    def steps(self) -> list[Step]:
        return [step for s in self.sections for step in s.steps()]

    def traced_counts(self, ctx: Ctx, facts: dict[str, dict]) -> dict[str, float]:
        return {k: v for s in self.sections for k, v in s.traced_counts(ctx, facts).items()}

    def log_metrics(self, spans: dict[str, Span], log: EventLog, facts: dict[str, dict]) -> dict[str, float]:
        return {k: v for s in self.sections for k, v in s.log_metrics(spans, log, facts).items()}


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (Gen, Pipelines)}

#: per-step fields the traced run reports, with their units
STEP_FIELDS = {
    "s": "s",
    "jobs": "count",
    "task_cpu_s": "s",
    "outside_jobs_s": "s",
    "shuffle_write_mb": "MB",
    "spill_disk_mb": "MB",
}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name with its unit, across all workloads."""
    out: dict[str, str] = {}
    for cls in WORKLOADS.values():
        for step in cls(0).steps():
            for f, unit in STEP_FIELDS.items():
                out[f"{step.name}.{f}"] = unit
        out.update(cls.extra_metrics)
    out["pinning.persisted_rdds"] = "count"
    out["trace.overhead_share"] = "ratio"
    return out
