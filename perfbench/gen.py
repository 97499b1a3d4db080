"""Seeded input generators for the benchmark workloads.

Everything here is plain single-threaded Python: the same seed gives the same
rows, and the engine only ever receives the rows (never the seed). Each
generator also returns the planted duplicate pairs the benchmark checks the
engine against.

Tokens come from a fixed synthetic vocabulary of consonant-vowel words with a
consonant ending, so the engine's stopword filter and Porter2 stemmer leave
them intact and token overlap is fully controlled by the generator. Token
frequencies follow a Zipf law, as in natural text.
"""

from __future__ import annotations

import html
import itertools
import random
from dataclasses import dataclass, field

_VOCAB_SIZE = 20_000


def _vocab() -> list[str]:
    rnd = random.Random(20_240_611)
    cons, vows, ends = "bdfgklmnprstvz", "aiou", "kmptxz"
    words: set[str] = set()
    while len(words) < _VOCAB_SIZE:
        n = rnd.choice((2, 2, 3))
        words.add(
            "".join(rnd.choice(cons) + rnd.choice(vows) for _ in range(n))
            + rnd.choice(ends)
        )
    return sorted(words)


VOCAB = _vocab()
_CUM = list(itertools.accumulate(1.0 / (r + 10) for r in range(_VOCAB_SIZE)))


def words(rnd: random.Random, n: int) -> list[str]:
    return rnd.choices(VOCAB, cum_weights=_CUM, k=n)


def edit(rnd: random.Random, toks: list[str], n_subs: int) -> list[str]:
    """A near-duplicate: ``n_subs`` random token substitutions."""
    out = list(toks)
    for _ in range(n_subs):
        out[rnd.randrange(len(out))] = rnd.choice(VOCAB)
    return out


@dataclass
class Corpus:
    """Rows plus ground truth: ``pairs`` are planted duplicate pairs
    (``kind`` is ``near`` for near-duplicates, ``span`` for low-Jaccard
    containment pairs); ``parts`` splits the rows where a workload feeds them
    to the engine in steps."""

    rows: list[dict]
    pairs: list[tuple[str, str, str]]
    parts: dict[str, list] = field(default_factory=dict)


def _family_pairs(urls: list[str]) -> list[tuple[str, str, str]]:
    return [(a, b, "near") for a, b in itertools.combinations(sorted(urls), 2)]


def _template(rnd: random.Random, n_blocks: int) -> list[list[str]]:
    return [words(rnd, 20) for _ in range(n_blocks)]


def _page(site: int, chrome: list[list[str]], title: list[str], body: list[list[str]]) -> str:
    """Site chrome blocks (nav, widgets, footer) interleaved with body
    fragments. Chrome blocks are 20 tokens, so two pages of one site share
    many shingles but no contiguous run near the span pass's 50 tokens."""
    out = [
        f"<!DOCTYPE html><html><head><title>{' '.join(title)}</title></head>",
        f'<body class="site{site}"><div class="nav">{" ".join(chrome[0])}</div>',
    ]
    for j, block in enumerate(chrome[1:]):
        if j < len(body):
            out.append(f"<p>{html.escape(' '.join(body[j]))}</p>")
        out.append(f'<div class="w{j}"><a href="/s{site}/{j}">{" ".join(block)}</a></div>')
    out.extend(f"<p>{' '.join(b)}</p>" for b in body[len(chrome) - 1:])
    out.append("</body></html>")
    return "".join(out)


def boilerplate_html(seed: int, n_pages: int, n_sites: int = 8) -> Corpus:
    """Mostly-unique html pages of a few sites: each site's chrome wraps
    distinct short body fragments. Pages of one site collide in LSH bands
    (hot, heterogeneous buckets whose star edges verify rejects) without being
    duplicates. Planted on top: near-duplicate families, one in ten of them
    larger than the engine's default ``max_band_group`` (8, so its buckets
    are hot and homogeneous), and containment pairs where one page's 60-token
    article sits inside a longer page of another site (low Jaccard, found only
    by the exact-span pass)."""
    rnd = random.Random(seed)
    sites = [_template(rnd, 8) for _ in range(n_sites)]
    rows: list[dict] = []
    pairs: list[tuple[str, str, str]] = []
    i = 0

    def add(site: int, body: list[list[str]]) -> str:
        nonlocal i
        url = f"https://site{site}.example/p{i:05d}"
        i += 1
        title = [f"site{site}"] + words(rnd, 4)
        rows.append({"url": url, "html": _page(site, sites[site], title, body)})
        return url

    while len(rows) < n_pages:
        site = rnd.randrange(n_sites)
        r = rnd.random()
        if r < 0.06:
            # near-duplicate family within one site
            body = [words(rnd, 4) for _ in range(7)]
            urls = [add(site, body)]
            for _ in range(rnd.randint(9, 15) if rnd.random() < 0.1 else rnd.randint(1, 3)):
                edited = [list(b) for b in body]
                f = rnd.randrange(len(edited))
                edited[f] = edit(rnd, edited[f], 1)
                urls.append(add(site, edited))
            pairs += _family_pairs(urls)
        elif r < 0.10:
            # containment pair: a's article embedded in b, another site
            article = words(rnd, 60)
            a = add(site, [article] + [words(rnd, 4) for _ in range(6)])
            other = (site + 1 + rnd.randrange(n_sites - 1)) % n_sites
            b = add(other, [words(rnd, 90) + article + words(rnd, 90)]
                    + [words(rnd, 4) for _ in range(6)])
            pairs.append((min(a, b), max(a, b), "span"))
        else:
            add(site, [words(rnd, 4) for _ in range(7)])
    return Corpus(rows, pairs)


def incremental(seed: int, n_seed: int, n_increment: int, n_batches: int, batch_size: int) -> Corpus:
    """A deduplicated seed corpus, one increment and a stream of micro-batches.
    A third of every later doc is a near-duplicate (0-2 substitutions) of a
    doc that arrived before its step, so every micro-batch touches index
    buckets. The seed holds at most one member of each family, as the delta
    path presumes."""
    rnd = random.Random(seed)
    texts: dict[str, list[str]] = {}
    family: dict[str, str] = {}

    def step(urls: list[str], dup_share: float) -> list[dict]:
        earlier = list(texts)
        rows = []
        for url in urls:
            if earlier and rnd.random() < dup_share:
                src = rnd.choice(earlier)
                texts[url], family[url] = edit(rnd, texts[src], rnd.randint(0, 2)), family[src]
            else:
                texts[url], family[url] = words(rnd, rnd.randint(80, 200)), url
            rows.append({"url": url, "text": " ".join(texts[url])})
        return rows

    parts = {
        "seed": step([f"seed-{k:06d}" for k in range(n_seed)], 0.0),
        "increment": step([f"inc-{k:06d}" for k in range(n_increment)], 0.34),
        "batches": [
            step([f"mb{b:04d}-{k:04d}" for k in range(batch_size)], 0.34)
            for b in range(n_batches)
        ],
    }
    groups: dict[str, list[str]] = {}
    for url, f in family.items():
        groups.setdefault(f, []).append(url)
    pairs = [p for urls in groups.values() if len(urls) > 1 for p in _family_pairs(urls)]
    rows = parts["seed"] + parts["increment"] + [r for b in parts["batches"] for r in b]
    return Corpus(rows, pairs, parts)
