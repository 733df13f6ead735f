"""Reference answers the benchmark computes itself, from the generated
inputs, with pandas and numpy. Each ``check_*`` returns a list of mismatch
descriptions; an empty list means the library's output is correct."""
from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

TOTALS, SUBTOTALS = "Totals", "Subtotals"
_BIG = 1e18


def round_half_up(x: float, nd: int = 6) -> float:
    """Spark's ``round(double, nd)``: HALF_UP on the double's shortest decimal
    form (Python's ``round`` is half-even on the exact binary value)."""
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


# ------------------------------------------------------------ margin tables
class _Table:
    """The pivot as the library's FlatFrame models it: two index levels, one
    column per label tuple, a float position per row, and the margin and
    percentage labels tracked so far."""

    def __init__(self, pv: pd.DataFrame):
        self.idx = [list(pv.index.get_level_values(0)), list(pv.index.get_level_values(1))]
        self.pos = np.arange(len(pv), dtype=np.float64)
        self.cols = [(str(c),) for c in pv.columns]
        self.vals = {(str(c),): pv[c].to_numpy(np.int64) for c in pv.columns}
        self.totals: list[str] = []
        self.pcts: list[str] = []
        self.nmargin = 0

    def _clean(self, value, keys) -> bool:
        return not any(value == k or str(value).startswith(k) for k in keys)

    def data_rows(self, keys) -> np.ndarray:
        return np.array([self._clean(a, keys) and self._clean(b, keys)
                         for a, b in zip(*self.idx)], dtype=bool)

    def data_cols(self, keys) -> list[tuple]:
        return [c for c in self.cols if all(self._clean(el, keys) for el in c)]

    def append_row(self, key, values: dict, pos: float) -> None:
        self.idx[0].append(key[0])
        self.idx[1].append(key[1])
        self.pos = np.append(self.pos, pos)
        for c in self.cols:
            self.vals[c] = np.append(self.vals[c], values[c])

    def tag_totals(self, label: str) -> None:
        if label not in self.totals:
            self.totals.append(label)

    # -- ops, named after the library calls they mirror
    def add_agg_rows(self, fn: str, label: str, mask: np.ndarray) -> None:
        agg = {c: getattr(self.vals[c][mask], fn)() for c in self.cols}
        self.append_row((label, ""), agg, self.pos.max() + 1.0)

    def add_totals(self, axis: int) -> None:
        keys = list(self.totals)
        if axis in (0, 2):
            self.add_agg_rows("sum", TOTALS, self.data_rows(keys + self.totals))
            self.tag_totals(TOTALS)
        if axis in (1, 2):
            dcols = self.data_cols(keys + self.totals + self.pcts)
            self.vals[(TOTALS,)] = np.sum([self.vals[c] for c in dcols], axis=0)
            self.cols.append((TOTALS,))
        self.tag_totals(TOTALS)

    def add_subtotals(self) -> None:
        mask = self.data_rows(self.totals)
        self.nmargin += 1
        eps = 2.0 ** -self.nmargin
        groups: dict = {}
        for i, g in enumerate(self.idx[0]):
            groups.setdefault(g, []).append(i)
        for g, rows in groups.items():
            data = [i for i in rows if mask[i]]
            if len(data) <= 1:
                continue
            sums = {c: self.vals[c][data].sum() for c in self.cols}
            self.append_row((g, SUBTOTALS), sums, self.pos[rows].max() + eps)
        self.tag_totals(SUBTOTALS)

    def sort_totals(self) -> None:
        labels = list(dict.fromkeys([SUBTOTALS, TOTALS] + self.totals))
        keys = []
        for level in self.idx:
            first: dict = {}
            for v, p in zip(level, self.pos):
                first[v] = min(first.get(v, np.inf), p)
            keys.append([_BIG if v in labels else first[v] for v in level])
        order = sorted(range(len(self.pos)), key=lambda i: (keys[0][i], keys[1][i], self.pos[i]))
        new = np.empty(len(order))
        new[order] = np.arange(1, len(order) + 1)
        self.pos = new

    def percentages(self, axis: int) -> dict:
        dcols = self.data_cols(self.pcts)
        last = int(np.argmax(self.pos))
        out = {}
        for c in dcols:
            v = self.vals[c].astype(np.float64)
            if axis == 0:
                d = np.float64(self.vals[c][last])
            elif axis == 1:
                d = self.vals[dcols[-1]].astype(np.float64)
            else:
                d = np.float64(self.vals[dcols[-1]][last])
            out[c] = v / d * 1.0
        return out

    def as_percentages(self, axis: int) -> None:
        pct = self.percentages(axis)
        self.cols = list(pct)
        self.vals = pct
        self.pcts.append("pct")

    def add_percentages(self, axis: int) -> None:
        pct = self.percentages(axis)
        n_block = [("n",) + c for c in self.cols]
        vals = {("n",) + c: self.vals[c] for c in self.cols}
        for c, v in pct.items():
            vals[("pct",) + c] = v
        self.cols = n_block + [("pct",) + c for c in pct]
        self.vals = vals
        self.pcts.append("pct")

    def rows(self) -> tuple[list[str], list[tuple]]:
        names, seen = [], {"g0", "g1"}
        for c in self.cols:
            flat = "_".join(str(x) for x in c if str(x) != "")
            names.append(flat)
            seen.add(flat)
        order = np.argsort(self.pos, kind="stable")
        out = []
        for i in order:
            vals = []
            for c in self.cols:
                v = self.vals[c][i]
                vals.append(int(v) if np.issubdtype(type(v), np.integer) else float(v))
            out.append((self.idx[0][i], self.idx[1][i], *vals))
        return ["g0", "g1", *names], out


def margin_expected(fact: pd.DataFrame, ops) -> tuple[list[str], list[tuple]]:
    """Column names and ordered rows of ``to_df()`` after the chain: the
    pivot body from ``pd.pivot_table``, each margin and percentage from
    pandas/numpy arithmetic on it."""
    pv = fact.pivot_table(index=["g0", "g1"], columns="p", values="m", aggfunc="sum")
    t = _Table(pv)
    for name, kw in ops:
        if name == "add_subtotals":
            t.add_subtotals()
        elif name == "add_totals":
            t.add_totals(kw["axis"])
        elif name == "add_agg":
            t.add_agg_rows(kw["aggfunc"], kw["aggfunc"], np.ones(len(t.pos), bool))
        elif name == "sort_totals":
            t.sort_totals()
        elif name == "as_percentages":
            t.as_percentages(kw["axis"])
        elif name == "add_percentages":
            t.add_percentages(kw["axis"])
        else:
            raise ValueError(f"unknown margin op {name!r}")
    return t.rows()


def check_margin(fact: pd.DataFrame, ops, columns: list[str], rows: list[tuple],
                 spec: dict) -> list[str]:
    exp_cols, exp_rows = margin_expected(fact, ops)
    errs = []
    if list(columns) != exp_cols:
        errs.append(f"columns {list(columns)} != expected {exp_cols}")
    if len(rows) != len(exp_rows):
        errs.append(f"{len(rows)} rows != expected {len(exp_rows)}")
    for i, (got, exp) in enumerate(zip(rows, exp_rows)):
        if tuple(got) != exp:
            errs.append(f"row {i}: {tuple(got)} != expected {exp}")
            break
    if not spec:
        errs.append("data_spec() returned an empty spec")
    return errs


# --------------------------------------------------------------- corpus
def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def check_dedup_exact(ids, texts, got: list[tuple]) -> list[str]:
    """``got``: (id, fingerprint, n_dups) rows. Survivors are the first
    occurrence of each text (pandas ``drop_duplicates`` over id order)."""
    df = pd.DataFrame({"id": ids, "text": texts}).sort_values("id")
    keep = df.drop_duplicates("text", keep="first")
    n = df.groupby("text")["id"].size()
    exp = {(int(r.id), md5_hex(r.text), int(n[r.text])) for r in keep.itertuples()}
    got_set = {(int(a), str(b), int(c)) for a, b, c in got}
    errs = []
    if len(got) != len(got_set):
        errs.append("duplicate survivor rows")
    if got_set != exp:
        errs.append(f"survivors differ: {len(got_set - exp)} unexpected, {len(exp - got_set)} missing")
    return errs


def shingles(text: str, n: int = 4) -> set:
    toks = text.strip().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 4) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return round_half_up(len(sa & sb) / len(sa | sb))


def check_minhash(texts_by_id: dict, got: list[tuple], threshold: float,
                  exact_pairs, near_pairs, near_floor: float) -> list[str]:
    """Every reported (id_a, id_b, jaccard) pair must carry the exact word
    4-shingle Jaccard, at or above the threshold, once, with id_a < id_b.
    Every planted exact pair must be reported (identical texts have
    identical signatures, so they collide in every band), and at least
    ``near_floor`` of the planted near pairs (LSH may miss a few)."""
    errs, seen = [], set()
    for a, b, j in got:
        if not a < b or (a, b) in seen:
            errs.append(f"pair ({a}, {b}) out of order or repeated")
            break
        seen.add((a, b))
        exp = jaccard(texts_by_id[a], texts_by_id[b])
        if exp != j or j < threshold:
            errs.append(f"pair ({a}, {b}): jaccard {j} != recomputed {exp}")
            break
    found = [(a, b) for a, b, _ in got]
    exact = planted_recall(exact_pairs, found)
    if exact < 1.0:
        errs.append(f"planted exact pairs found: {exact:.4f}, expected all")
    near = planted_recall(near_pairs, found)
    if near < near_floor:
        errs.append(f"planted near pairs found: {near:.4f} < floor {near_floor}")
    return errs


def planted_recall(planted, got_pairs) -> float:
    found = {(min(a, b), max(a, b)) for a, b in got_pairs}
    hits = sum((min(a, b), max(a, b)) in found for a, b in planted)
    return hits / len(planted) if planted else 1.0


def cosines(q: np.ndarray, c: np.ndarray) -> np.ndarray:
    q = q.astype(np.float64)
    c = c.astype(np.float64)
    return (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))


def check_embedding_dups(ids, vecs, got: list[tuple], threshold: float,
                         planted, floor: float) -> list[str]:
    """Every reported pair's cosine must match numpy within the 6-digit
    rounding the operator applies, and clear the threshold; at least
    ``floor`` of the planted near-duplicate pairs must be reported."""
    row = {int(i): k for k, i in enumerate(ids)}
    errs = []
    for a, b, cos in got:
        va, vb = vecs[row[a]][None, :], vecs[row[b]][None, :]
        exp = float(cosines(va, vb)[0, 0])
        if not a < b or abs(exp - cos) > 1e-6 or cos < threshold:
            errs.append(f"pair ({a}, {b}): cos {cos} vs numpy {exp}")
            break
    recall = planted_recall(planted, [(a, b) for a, b, _ in got])
    if recall < floor:
        errs.append(f"planted pairs found: {recall:.4f} < floor {floor}")
    return errs


STOPWORDS_EN = ("the", "a", "an", "of", "and", "to", "in", "is", "it")


def quality(text: str) -> float:
    """``functions.text.with_quality``'s score, in the same double
    arithmetic: stopword share, punctuation share and mean token length,
    rounded HALF_UP to 6 digits. Tokens split on single spaces and
    punctuation is any non-word, non-space character, which matches
    Spark's regexes on the ASCII, single-spaced texts the generator
    writes."""
    toks = text.strip().split()
    lower = text.lower().strip().split()
    sw = sum(t in STOPWORDS_EN for t in lower) / len(lower) if lower else 0.0
    mtl = sum(len(t) for t in toks) / len(toks) if toks else 0.0
    punct = sum(not (ch.isalnum() or ch == "_" or ch.isspace()) for ch in text)
    pr = punct / len(text) if text else 0.0
    len_ok = 1.0 if 2.0 <= mtl <= 12.0 else 0.5
    return round_half_up(min(sw * 4.0, 1.0) * 0.4 + (1.0 - min(pr * 5.0, 1.0)) * 0.3
                         + len_ok * 0.3)


def knn_expected(ids, vecs, qids, queries, k: int) -> dict:
    """query id → [(neighbor id, rounded cos)] best first; ties on the
    rounded cosine break by ascending neighbor id, as the operator ranks."""
    sims = cosines(queries, vecs)
    out = {}
    for qi, qid in enumerate(qids):
        row = sims[qi]
        # a generous shortlist by raw cosine, re-ranked on rounded values
        top = np.argpartition(-row, k + 20)[: k + 20]
        cand = sorted((-round_half_up(row[j]), int(ids[j])) for j in top)
        out[int(qid)] = [(nid, -negc) for negc, nid in cand[:k]]
    return out


def check_knn(ids, vecs, qids, queries, k: int, got: list[tuple]) -> list[str]:
    """``got``: (query_id, neighbor_id, cos, rank) rows."""
    exp = knn_expected(ids, vecs, qids, queries, k)
    res: dict = {}
    for q, n, cos, rank in got:
        res.setdefault(int(q), []).append((int(rank), int(n), float(cos)))
    errs = []
    if set(res) != set(exp):
        errs.append(f"{len(res)} queries answered, expected {len(exp)}")
    for q, want in exp.items():
        have = [(n, c) for _, n, c in sorted(res.get(q, []))]
        if have != want:
            errs.append(f"query {q}: {have[:3]}... != numpy {want[:3]}...")
            break
    return errs


# --------------------------------------------------------------- streams
def check_stream_dedup(texts: list, fingerprints: list) -> list[str]:
    exp = {md5_hex(t) for t in texts}
    errs = []
    if len(fingerprints) != len(set(fingerprints)):
        errs.append(f"{len(fingerprints) - len(set(fingerprints))} duplicate survivors")
    if set(fingerprints) != exp:
        errs.append(f"survivors {len(set(fingerprints))} != distinct fingerprints {len(exp)}")
    return errs


def check_latest_state(changes: pd.DataFrame, got: list[tuple]) -> list[str]:
    """``got``: (key, version, value) of each key's final state; pandas keeps
    the last change per key by (version, event_id)."""
    last = (changes.sort_values(["key", "version", "event_id"])
            .drop_duplicates("key", keep="last"))
    exp = {(int(r.key), int(r.version), float(r.value)) for r in last.itertuples()}
    got_set = {(int(k), int(v), float(x)) for k, v, x in got}
    if len(got) != len(got_set) or got_set != exp:
        return [f"final state differs: {len(got_set ^ exp)} mismatched keys"]
    return []
