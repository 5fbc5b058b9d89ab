"""The benchmark workloads: seeded input generators, pandas/NumPy
oracles and the timed queries that run through the public baloo_spark API.

A workload generates its inputs once per seed (``generate``), computing
every oracle answer at the same time, outside any timed region. The
measuring process then builds the workload's queries (``queries``); each
query is a function of a tracer that wraps every call into a library layer
in ``tr.span(layer, name)`` and returns the Python value its action pulled
back. The checks (``checks``) are plain pandas/NumPy over the oracle, one
per query, and raise on a wrong answer; they run in a process of their own.
"""

from __future__ import annotations

import os
import pickle
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

N_PARTS = 4  # input files per table, so a scan has work for every core


@dataclass
class Query:
    name: str
    run: Callable[[Any], Any]
    tag: str = ""  # the operator family a query exercises, for per-layer sums
    # untimed Spark counts for the traced run's useful-work ratios
    probe: Callable[[], dict] | None = None


def write_parts(pdf: pd.DataFrame, path: str, parts: int = N_PARTS) -> int:
    """Write ``pdf`` as a directory of parquet part files; returns bytes."""
    os.makedirs(path, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pdf.iloc[chunk].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"),
                                   index=False)
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def close(got, want, rtol=1e-7, atol=1e-9) -> None:
    np.testing.assert_allclose(np.asarray(got, dtype=float),
                               np.asarray(want, dtype=float),
                               rtol=rtol, atol=atol, equal_nan=True)


def close_series(got, want: pd.Series) -> None:
    """Compare a per-column ``.sum()`` result (a pandas Series) by column."""
    close([got[c] for c in want.index], want.to_numpy())


def _save_oracle(data_dir: str, oracle: dict) -> None:
    with open(os.path.join(data_dir, "oracle.pkl"), "wb") as f:
        pickle.dump(oracle, f)


def load_oracle(data_dir: str) -> dict:
    with open(os.path.join(data_dir, "oracle.pkl"), "rb") as f:
        return pickle.load(f)


# ---------------------------------------------------------------- reference


class ReferencePipeline:
    """baloo's own published benchmark: six ops over four random columns,
    each forced by ``.sum()`` and checked with ``assert_allclose``. The ops
    are written once and run on pandas for the oracle and on baloo_spark
    for the timed queries."""

    name = "reference_pipeline"
    # op -> (layer of the lazy build, build over (df, dim))
    OPS = {
        "filter": ("core", lambda df, dim: df[
            (df["col1"] > 0) & (df["col2"] > -10) & (df["col3"] < 50)]),
        # the integer columns are left out: on some seeds their prod (0 in
        # pandas, the columns hold zeros) reads NaN
        "agg": ("core", lambda df, dim: df[["col1", "col2"]]
                .agg(["min", "prod", "mean", "std"])),
        "assign": ("core", lambda df, dim: df["col1"] * 2 + 1 - 23),
        "apply_exp": ("functions", lambda df, dim: df["col1"].apply(np.exp)),
        # col2 is continuous, so nearly every group is a singleton (as in
        # the reference); the merge key col3 is left out of the sum
        "groupby_var": ("core", lambda df, dim:
                        df.groupby(["col2", "col4"]).var()[["col1", "col3"]]),
        "merge": ("core", lambda df, dim: df.merge(dim, on="col3")[
            ["col1", "col2", "col4", "w"]]),
    }

    def generate(self, seed: int, size: dict, data_dir: str) -> dict:
        n = int(size["rows"])
        rng = np.random.RandomState(seed)
        pdf = pd.DataFrame({"col1": rng.randn(n) * 17,
                            "col2": rng.randn(n) * 29,
                            "col3": rng.randint(100, size=n),
                            "col4": rng.randint(200, size=n).astype(np.int32)})
        dim = pd.DataFrame({"col3": np.arange(100), "w": rng.randn(100)})
        nbytes = write_parts(pdf, os.path.join(data_dir, "ref"))
        nbytes += write_parts(dim, os.path.join(data_dir, "dim"), 1)
        with np.errstate(over="ignore"):
            oracle = {k: build(pdf, dim).sum() for k, (_, build) in self.OPS.items()}
        _save_oracle(data_dir, oracle)
        return {"input_rows": n, "input_bytes": nbytes}

    def queries(self, data_dir: str, inp: dict) -> list:
        import baloo_spark as bl
        ref, dimp = os.path.join(data_dir, "ref"), os.path.join(data_dir, "dim")

        def make(name, layer, build):
            def run(tr):
                with tr.span("io", "read_parquet"):
                    df, dim = bl.read_parquet(ref), bl.read_parquet(dimp)
                with tr.span(layer, name):
                    out = build(df, dim)
                with tr.span("driver", "sum"):
                    got = out.sum()
                    return got.to_pandas() if hasattr(got, "to_pandas") else got
            return Query(name, run)

        return [make(name, layer, build)
                for name, (layer, build) in self.OPS.items()]

    def checks(self, data_dir: str, oracle: dict) -> dict:
        def check(name, got):
            want = oracle[name]
            if isinstance(want, pd.Series):
                close_series(got, want)
            else:
                close(got, want)

        return {name: (lambda got, name=name: check(name, got))
                for name in self.OPS}


# --------------------------------------------------------------- timeseries


class TimeseriesOrdered:
    """An event stream on a sorted datetime index through the ordered
    pandas surface that the global-order two-pass schemes serve: cumulative,
    shifted, rolling and exponentially weighted computations, each forced by
    ``.sum()``."""

    name = "timeseries_ordered"
    OPS = {
        "cumsum_shift": lambda s: s.cumsum().shift(5),
        "rolling_std": lambda s: s.rolling(50).std(),
        "ewm_mean": lambda s: s.ewm(alpha=0.05).mean(),
    }

    def generate(self, seed: int, size: dict, data_dir: str) -> dict:
        n = int(size["events"])
        rng = np.random.RandomState(seed)
        # strictly increasing second stamps: every row has one order, so
        # every ordered op has one right answer
        secs = np.cumsum(rng.geometric(0.2, n))
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        p = 1.0 / np.arange(1, 501) ** 1.1  # Zipf-skewed users
        ev = pd.DataFrame({
            "ts": t0 + secs.astype("timedelta64[s]"),
            "user": rng.choice(500, n, p=p / p.sum()).astype(np.int64),
            "event_type": rng.randint(8, size=n).astype(np.int32),
            "value": np.round(rng.gamma(2.0, 10.0, n), 3),
        })
        nbytes = write_parts(ev, os.path.join(data_dir, "events"))

        s = ev.set_index("ts")["value"]
        oracle = {k: build(s).sum() for k, build in self.OPS.items()}
        _save_oracle(data_dir, oracle)
        return {"input_rows": n, "input_bytes": nbytes}

    def queries(self, data_dir: str, inp: dict) -> list:
        import baloo_spark as bl
        evp = os.path.join(data_dir, "events")

        def make(name, build):
            def run(tr):
                with tr.span("io", "read_parquet"):
                    ev = bl.read_parquet(evp)
                with tr.span("core", "sort_values"):
                    s = ev.sort_values("ts").set_index("ts")["value"]
                with tr.span("plans", name):
                    out = build(s)
                with tr.span("driver", "sum"):
                    return out.sum()
            return Query(name, run)

        return [make(k, b) for k, b in self.OPS.items()]

    def checks(self, data_dir: str, oracle: dict) -> dict:
        return {k: (lambda got, k=k: close(got, oracle[k])) for k in self.OPS}


# --------------------------------------------------------------- text dedup

STOPWORDS_EN = ["the", "of", "and", "to", "in", "is", "it", "that", "for",
                "was"]  # baloo_spark.operators.text.STOPWORDS["en"]


def word_shingles(text: str, n: int = 3) -> frozenset:
    toks = text.split()
    return frozenset(" ".join(toks[i:i + n])
                     for i in range(max(len(toks) - n, 0) + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def quality_score(text: str) -> float:
    """text_profile's composite score for lowercase, punctuation-free text."""
    toks = text.split()
    n_tok, n_chars = len(toks), len(text)
    avg = (n_chars - (n_tok - 1)) / n_tok
    stop = sum(t in STOPWORDS_EN for t in toks) / n_tok
    return (0.35 * min(stop * 3, 1.0) + 0.25 * (3 <= avg <= 10)
            + 0.2 + 0.2)


class TextDedup:
    """A Zipf-worded corpus with planted exact copies and near-duplicates,
    profiled, deduplicated exactly and approximately, and written back."""

    name = "text_dedup"

    def generate(self, seed: int, size: dict, data_dir: str) -> dict:
        rng = np.random.RandomState(seed)
        thr = float(size["threshold"])
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        words = set()
        while len(words) < int(size["vocab"]):
            words.add("".join(rng.choice(letters, rng.randint(3, 10))))
        vocab = STOPWORDS_EN + sorted(words - set(STOPWORDS_EN))
        vocab = np.array(vocab[:int(size["vocab"])])
        p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
        p /= p.sum()

        n_base = int(size["base_docs"])
        lens = np.clip(rng.lognormal(np.log(60), 0.5, n_base), 20, 300)
        base = [vocab[rng.choice(len(vocab), int(k), p=p)] for k in lens]
        texts = [" ".join(w) for w in base]
        # exact copies of base documents
        for b in rng.choice(n_base, int(n_base * float(size["exact_frac"]))):
            texts.append(texts[b])
        # near-duplicates: a few words of a base document replaced, kept
        # only when their shingle Jaccard to the base clears the threshold
        # by a margin, so each one lands in its base's cluster
        links = []
        for b in rng.choice(n_base, int(n_base * float(size["near_frac"]))):
            w = base[b].copy()
            k = max(1, int(len(w) * rng.uniform(0.01, 0.04)))
            pos = rng.choice(len(w), k, replace=False)
            w[pos] = vocab[rng.randint(len(vocab), size=k)]
            text = " ".join(w)
            if jaccard(word_shingles(text), word_shingles(texts[b])) >= thr + 0.05:
                links.append((b, len(texts)))
                texts.append(text)
        order = rng.permutation(len(texts))  # row -> doc_id
        docs = pd.DataFrame({"doc_id": order.astype(np.int64), "text": texts})
        nbytes = write_parts(docs.sort_values("doc_id"),
                             os.path.join(data_dir, "docs"))

        # truth: exact groups by text; near clusters = a base's exact group
        # representative plus its planted variants
        rep = docs.groupby("text")["doc_id"].transform("min")
        exact_groups = sorted(
            tuple(sorted(g)) for g in
            docs.groupby("text")["doc_id"].apply(list) if len(g) > 1)
        rep_of_row = rep.to_numpy()
        clusters = {}
        for b, v in links:
            r, rv = int(rep_of_row[b]), int(rep_of_row[v])
            if rv != r:
                clusters.setdefault(r, {r}).add(rv)
        losers = set()
        for members in clusters.values():
            losers |= members - {min(members)}
        survivors = set(rep_of_row.tolist())
        planted = {(min(c, m), max(c, m)) for c, ms in clusters.items()
                   for m in ms if m != c}
        oracle = {
            "texts": dict(zip(docs["doc_id"].tolist(), texts)),
            "exact_groups": exact_groups,
            "n_distinct": len(survivors),
            "planted_pairs": planted,
            "kept_ids": sorted(survivors - losers),
            "threshold": thr,
            "recall_floor": float(size["recall_floor"]),
        }
        _save_oracle(data_dir, oracle)
        return {"input_rows": len(docs), "input_bytes": nbytes,
                "threshold": thr, "docs": len(docs),
                "exact_copies": len(docs) - len(survivors),
                "planted_near_pairs": len(planted)}

    def queries(self, data_dir: str, inp: dict) -> list:
        import baloo_spark as bl
        from baloo_spark.operators.dedup import (drop_near_duplicates,
                                                 exact_duplicates,
                                                 minhash_lsh_pairs,
                                                 ngram_jaccard_pairs)
        from baloo_spark.operators.text import text_profile
        from pyspark.sql import functions as F

        from tracing import NullTracer

        docs_p = os.path.join(data_dir, "docs")
        out_p = os.path.join(data_dir, "kept")
        thr = inp["threshold"]

        def read(tr):
            with tr.span("io", "read_parquet"):
                return bl.read_parquet(docs_p).to_spark()

        def survivors(tr):
            docs = read(tr)
            with tr.span("operators.dedup", "exact_duplicates"):
                keep = exact_duplicates(docs).select(
                    F.col("keep_id").alias("doc_id"))
                return docs.join(keep, "doc_id")

        def pull(tr, sdf):
            with tr.span("driver", "to_pandas"):
                return bl.DataFrame.from_spark(sdf).to_pandas()

        def q_profile(tr):
            docs = read(tr)
            with tr.span("operators.text", "text_profile"):
                prof = text_profile(docs)
            return pull(tr, prof)

        def q_exact(tr):
            docs = read(tr)
            with tr.span("operators.dedup", "exact_duplicates"):
                ex = exact_duplicates(docs)
            return pull(tr, ex)

        def minhash(tr, verify=True):
            surv = survivors(tr)
            with tr.span("operators.dedup", "minhash_lsh_pairs"):
                return minhash_lsh_pairs(surv, threshold=thr, k=64, bands=16,
                                         verify=verify)

        def q_minhash(tr):
            return pull(tr, minhash(tr))

        def probe_minhash():
            # LSH candidates before the exact-Jaccard verify: the base of
            # operators.pair_precision
            return {"candidates": minhash(NullTracer(), verify=False).count()}

        def q_drop_write(tr):
            surv = survivors(tr)
            with tr.span("operators.dedup", "ngram_jaccard_pairs"):
                pairs = ngram_jaccard_pairs(surv, n=3, threshold=thr,
                                            shingle="word")
            with tr.span("operators.dedup", "drop_near_duplicates"):
                kept = bl.DataFrame.from_spark(drop_near_duplicates(surv, pairs))
            with tr.span("io", "to_parquet"):
                kept.to_parquet(out_p)
            return out_p

        return [
            Query("profile", q_profile, "text"),
            Query("exact", q_exact, "dedup"),
            Query("minhash", q_minhash, "dedup", probe_minhash),
            Query("drop_write", q_drop_write, "dedup"),
        ]

    def checks(self, data_dir: str, oracle: dict) -> dict:
        thr, texts = oracle["threshold"], oracle["texts"]
        shingle_memo = {}

        def shingles(i):
            if i not in shingle_memo:
                shingle_memo[i] = word_shingles(texts[i])
            return shingle_memo[i]

        def check_profile(got):
            if len(got) != len(texts):
                raise AssertionError(f"{len(got)} profiles, want {len(texts)}")
            t = got["doc_id"].map(texts)
            close(got["n_tokens"], t.str.split().str.len())
            close(got["n_chars_measured"], t.str.len())
            close(got["quality_score"], t.map(quality_score), atol=1.5e-4)

        def check_exact(got):
            if len(got) != oracle["n_distinct"]:
                raise AssertionError(
                    f"{len(got)} contents, want {oracle['n_distinct']}")
            dup = got[got["n_copies"] > 1]
            have = sorted(zip(dup["keep_id"].tolist(), dup["n_copies"].tolist()))
            want = sorted((g[0], len(g)) for g in oracle["exact_groups"])
            if have != want:
                raise AssertionError("exact-duplicate groups differ")

        def check_pairs(got):
            pairs = list(zip(got["id_a"].tolist(), got["id_b"].tolist()))
            under = sum(jaccard(shingles(a), shingles(b)) < thr - 1e-6
                        for a, b in pairs)
            if under:
                raise AssertionError(f"{under} reported pairs under the threshold")
            found = len(oracle["planted_pairs"] & set(pairs))
            planted = len(oracle["planted_pairs"])
            floor = oracle["recall_floor"]
            if found < floor * planted:
                raise AssertionError(f"recall {found}/{planted} under {floor}")
            return {"pairs_reported": len(pairs), "planted": planted,
                    "planted_found": found}

        def check_written(path):
            ids = sorted(pd.read_parquet(path, columns=["doc_id"])["doc_id"])
            if ids != oracle["kept_ids"]:
                raise AssertionError(
                    f"{len(ids)} kept documents, want {len(oracle['kept_ids'])}")

        return {"profile": check_profile, "exact": check_exact,
                "minhash": check_pairs, "drop_write": check_written}


WORKLOADS = {w.name: w for w in (ReferencePipeline(), TimeseriesOrdered(),
                                 TextDedup())}
