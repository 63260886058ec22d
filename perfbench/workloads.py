"""The workloads: inputs, one operation, and its oracle check.

Each workload generates its inputs from the seed in memory, writes them
as parquet during set-up, loads them through ``tables.*`` and runs one
operation through the package's public functions.  ``op`` returns the
operation's collected output; ``check`` compares it with the oracle
and returns a verdict dict whose ``ok`` decides pass or fail.
"""

from __future__ import annotations

import pandas as pd

import gen
import oracles

K = 5


class FknnBatch:
    """Two-stage exact Fuzzy kNN over a seeded embeddings table."""

    name = "fknn_batch"
    # one warm-up takes the first operation's cold cost (about 2x a warm
    # one); the JIT compiling that goes on after it is left out of cpu_s
    warmup_ops = 1
    timed_ops = 1

    def __init__(self, seed: int):
        self.params = {"embeddings": 10000, "dim": gen.EMB_DIM, "classes": gen.N_CLASSES, "spread": 3.5, "k": K}
        self.seed = seed
        self.tables, self.data = gen.embeddings(seed, self.params["embeddings"], self.params["spread"])
        self._oracle = None

    def load(self, spark, data_dir: str, tables) -> dict:
        train, test = tables.train_test_split(spark, data_dir)
        n_train, n_test = train.count(), test.count()
        self.params.update(train_rows=n_train, test_rows=n_test)
        self.rows_per_op = n_test
        self.pairs_per_op = n_train * n_train + n_test * n_train
        return {"train": train, "test": test}

    def op(self, spark, st: dict, tracer):
        from big_data_fknn_spark.api import FuzzyKNNClassifier

        with tracer.span("api.predict_construct"):
            pred = FuzzyKNNClassifier.setup(st["train"], st["test"], k=K).predict()
        with tracer.span("api.predict_collect"):
            return pred.toPandas()

    def check(self, out: pd.DataFrame) -> dict:
        if self._oracle is None:
            d = self.data
            tr = d["ids"] % 5 != 0
            self._oracle = oracles.fknn(
                d["ids"][tr], d["vecs"][tr], d["labels"][tr], d["ids"][~tr], d["vecs"][~tr], d["labels"][~tr], K
            )
        want, memb_rows = self._oracle
        bad = oracles.fknn_mismatches(out, want)
        return {
            "ok": bad == 0,
            "mismatched_rows": bad,
            "accuracy": round(float((want["pred"] == want["label"]).mean()), 4),
            "oracle_membership_rows": memb_rows,
        }


class CorpusBatch:
    """The two batch operators the kNN kernel does no work in, run back
    to back: registry near-dup detection (j8) and dedup survivors (j31)
    over a seeded Zipfian corpus with planted near-duplicates, then an
    exact global rank with a running sum over a seeded table whose
    leading key is Zipfian with heavy ties."""

    name = "corpus_batch"
    warmup_ops = 1
    # about one operation in four runs ~40% slower in CPU and wall time
    # (more JIT work, no error); the median of two halves its weight
    timed_ops = 2

    def __init__(self, seed: int):
        self.params = {
            "documents": 400,
            "vocab": 20000,
            "zipf_s": 1.0,
            "words_per_doc": [30, 80],
            "planted_dup_share": 0.15,
            "edit_share": 0.05,
            "rank_rows": 30000,
            "rank_mode_share": 0.4,
            "rank_num_buckets": 16,
            "rank_order": "cnt desc, tb asc, id asc",
        }
        p = self.params
        self.seed = seed
        docs, self.docs = gen.documents(
            seed, p["documents"], p["vocab"], p["zipf_s"], tuple(p["words_per_doc"]),
            p["planted_dup_share"], p["edit_share"],
        )
        ranked, self.ranked = gen.ranked(seed, p["rank_rows"], p["rank_mode_share"])
        self.tables = {**docs, **ranked}
        self.rows_per_op = p["documents"] + p["rank_rows"]
        self._oracle = None

    def load(self, spark, data_dir: str, tables) -> dict:
        ranked = tables.t(spark, data_dir, "ranked")
        self.params.update(
            documents_loaded=tables.t(spark, data_dir, "documents").count(),
            rank_rows_loaded=ranked.count(),
        )
        return {"dir": data_dir, "ranked": ranked}

    def op(self, spark, st: dict, tracer):
        from big_data_fknn_spark.operators import rank
        from big_data_fknn_spark.queries import load_all

        reg = load_all()
        with tracer.span("queries.llm.j8") as rec:
            pairs = reg["j8_dedup_near"].fn(spark, st["dir"]).toPandas()
            rec["near_dup_pairs"] = len(pairs)
        with tracer.span("queries.llm.j31") as rec:
            surv = reg["j31_dedup_survivors"].fn(spark, st["dir"]).toPandas()
            rec["survivors"] = int(surv["kept"].sum())
        with tracer.span("operators.rank.construct") as rec:
            g = rank.global_rank(
                st["ranked"],
                [("cnt", False), ("tb", True), ("id", True)],
                num_buckets=self.params["rank_num_buckets"],
                running_sum=("val", "rsum"),
            )
            rec["refine_stages"] = rank.LAST_REFINE_STAGES
        with tracer.span("operators.rank.exec"):
            ranks = g.df.select("id", "rank", "rsum").toPandas()
        return pairs, surv, ranks

    def _oracles(self):
        if self._oracle is None:
            d, r = self.docs, self.ranked
            truth, sh = oracles.near_dup_pairs(d["doc_ids"], d["texts"])
            ranks = oracles.rank(r["cnt"], r["tb"], r["id"], r["val"]).sort_values("id").reset_index(drop=True)
            self._oracle = (truth, sh, oracles.survivors(d["doc_ids"], truth), ranks)
        return self._oracle

    def check(self, out) -> dict:
        pairs, surv, ranks = out
        truth, sh, want_surv, want_rank = self._oracles()
        # j8 is LSH-banded: every reported pair must truly reach tau
        # with the reported (6-dp) Jaccard; recall is reported, not gated.
        bad_pairs = 0
        found = set()
        for i, j, jac in pairs.itertuples(index=False):
            true = oracles.jaccard(sh[int(i)], sh[int(j)])
            found.add((int(i), int(j)))
            if true < oracles.TAU or abs(true - jac) > 5e-7 + 1e-9:
                bad_pairs += 1
        planted = {p for p in self.docs["planted"] if p in truth}
        surv_ok = _frames_equal(surv, want_surv, "doc_id", ("cluster_id", "kept"))
        rank_ok = _frames_equal(ranks, want_rank, "id", ("rank", "rsum"))
        return {
            "ok": bad_pairs == 0 and surv_ok and rank_ok,
            "j8_pairs": len(pairs),
            "j8_bad_pairs": bad_pairs,
            "j8_planted_recall": round(len(planted & found) / max(len(planted), 1), 4),
            "exact_pairs": len(truth),
            "j31_match": surv_ok,
            "survivors": int(want_surv["kept"].sum()),
            "rank_match": rank_ok,
        }


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame, key: str, cols: tuple[str, ...]) -> bool:
    """``got`` equals ``want`` (already sorted by ``key``) on key and cols."""
    got = got.sort_values(key).reset_index(drop=True)
    return len(got) == len(want) and all(
        bool((got[c].to_numpy() == want[c].to_numpy()).all()) for c in (key, *cols)
    )


WORKLOADS = {w.name: w for w in (FknnBatch, CorpusBatch)}
