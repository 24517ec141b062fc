"""Plain-Python reference results for the curation pipeline.

Each function restates the documented semantics of one daft_spark
operator on the generated corpus, so the benchmark checks the
operators' outputs against an independent computation rather than
against themselves. They run once per run, outside the timed region.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

_WORD = re.compile(r"[A-Za-z0-9]+")
GOPHER_STOPWORDS = {"the", "be", "to", "of", "and", "that", "have", "with"}


def tokens(text: str) -> list[str]:
    """dedup.tokens_of: lowercase, non-alphanumerics to spaces, split."""
    return re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", text.lower())).strip().split(" ")


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    """dedup.shingle_hashes before hashing: one shingle per position,
    trailing positions padded with ''."""
    t = tokens(text)
    return {tuple(t[p + j] if p + j < len(t) else "" for j in range(k)) for p in range(len(t))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def containment_edges(texts: dict[int, str], related: dict[int, int], threshold: float = 0.8) -> set[tuple[int, int]]:
    """dedup.containment_pairs restricted to the planted pairs (only they
    share shingles), as undirected (low id, high id) edges."""
    out = set()
    for copy, base in related.items():
        sa, sb = shingles(texts[base]), shingles(texts[copy])
        inter = len(sa & sb)
        if max(_half_up(inter / len(sa), 6), _half_up(inter / len(sb), 6)) >= Decimal(repr(threshold)):
            out.add((min(base, copy), max(base, copy)))
    return out


def quality_keep(text: str) -> bool:
    """functions.text.gopher_rules (min_words=50) AND c4_rules, keep."""
    w = _WORD.findall(text.lower())
    n = len(w)
    safe = max(n, 1)
    mwl = sum(len(x) for x in w) / safe
    lines = text.split("\n")
    n_lines = max(len(lines), 1)
    gopher = (
        50 <= n <= 100_000
        and 3.0 <= mwl <= 10.0
        and (text.count("#") + len(re.findall(r"\.\.\.", text))) / safe <= 0.1
        and sum(bool(re.match(r"^(•|- |\* )", ln)) for ln in lines) / n_lines <= 0.9
        and sum(bool(re.search(r"(\.\.\.|…)$", ln)) for ln in lines) / n_lines <= 0.3
        and sum(bool(re.search("[a-z]", x)) for x in w) / safe >= 0.8
        and len(set(w) & GOPHER_STOPWORDS) >= 2
    )
    low = text.lower()
    c4 = "{" not in low and "lorem ipsum" not in low and len(re.findall("[.!?]", text)) >= 3
    return gopher and c4


def _half_up(x: float, places: int) -> Decimal:
    """Spark's round(): HALF_UP on the shortest decimal form of the double."""
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP)


def bigram_lm(texts: dict[int, str], k: float = 0.5) -> list[tuple[int, int, float, float]]:
    """operators.lm.bigram_lm_scores: (doc_id, n_bigrams, avg_logprob,
    perplexity) for every document with at least one bigram."""
    arrs = {d: re.split(r"\s+", t.strip(" ").lower()) for d, t in texts.items()}
    vocab = {w for a in arrs.values() for w in a if w}
    per_doc = {d: Counter((a[i], a[i + 1]) for i in range(len(a) - 1) if a[i] and a[i + 1])
               for d, a in arrs.items()}
    c12: Counter = Counter()
    for c in per_doc.values():
        c12.update(c)
    c1: Counter = Counter()
    for (w1, _), n in c12.items():
        c1[w1] += n
    logp = {bg: _half_up(math.log((n + k) / (c1[bg[0]] + k * len(vocab))), 9) for bg, n in c12.items()}
    out = []
    for d, c in per_doc.items():
        n_bi = sum(c.values())
        if n_bi == 0:
            continue
        avg = float(_half_up(float(sum(n * logp[bg] for bg, n in c.items())) / n_bi, 6))
        out.append((d, n_bi, avg, float(_half_up(math.exp(-avg), 4))))
    return out


def _buckets(text: str, n_buckets: int, salt: str) -> list[int]:
    w = _WORD.findall(text.lower())
    grams = w + [f"{a} {b}" for a, b in zip(w, w[1:])]
    return [math.floor(int(hashlib.md5((g + salt).encode()).hexdigest()[:13], 16)
                       / float(1 << 52) * n_buckets) for g in grams]


def dsir(raw: dict[int, str], target: list[str], n_buckets: int = 1024, alpha: float = 1e-2,
         salt: str = "dsir") -> list[tuple[int, int, float]]:
    """operators.dsir.dsir_log_weights: (doc_id, n_grams, log_weight)."""
    raw_b = {d: _buckets(t, n_buckets, salt) for d, t in raw.items()}
    q = Counter(b for bs in raw_b.values() for b in bs)
    p = Counter(b for t in target for b in _buckets(t, n_buckets, salt))
    n_p, n_q = sum(p.values()), sum(q.values())

    def ratio(b):
        return (math.log((p.get(b, 0) + alpha) / (n_p + alpha * n_buckets))
                - math.log((q.get(b, 0) + alpha) / (n_q + alpha * n_buckets)))

    return [(d, len(bs), float(_half_up(math.fsum(ratio(b) for b in bs), 6))) for d, bs in raw_b.items()]
