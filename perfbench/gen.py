"""Seeded corpus generator for the benchmark workloads.

Pure Python + pyarrow: it imports nothing from the program under test, so
the program only ever sees the parquet files written here. Every corpus
comes with its planted truth:

  pages.parquet   url, warc_ts, text, lang           (the program's input)
  truth.parquet   url, group                         (planted group per doc;
                                                      null for ambiguous docs)
  pairs.parquet   url_a, url_b, kind                 (planted duplicate pairs)

The same seed gives byte-identical tables (see ``fingerprint``); the
workloads keep their shape (doc counts, group sizes, text lengths) fixed
across seeds so that a seed changes the content, not the amount of work.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(2024, 1, 1)
_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ka ke ki ko ku la le li lo lu "
    "ma me mi mo mu na ne ni no nu pa pe pi po pu ra re ri ro ru sa se si so "
    "su ta te ti to tu va ve vi vo za ze zi zo an en in on ar er ir or st tr"
).split()


def _vocabulary(n: int = 6000) -> list[str]:
    # fixed (seed-independent) vocabulary: every corpus shares one language
    rng = random.Random(0)
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


_VOCAB = _vocabulary()
# mild Zipf weights: common words recur across docs like real web text,
# so unrelated docs share some shingles (LSH sees background collisions)
_CUM_WEIGHTS = []
_acc = 0.0
for _r in range(len(_VOCAB)):
    _acc += 1.0 / (_r + 10) ** 0.9
    _CUM_WEIGHTS.append(_acc)


_DOC_WORDS = 110  # ~780 bytes, like bench.py's 120-word docs


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(_VOCAB, cum_weights=_CUM_WEIGHTS, k=n)


def _mutate(rng: random.Random, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        out[rng.randrange(len(out))] = _words(rng, 1)[0]
    return out


def _restyle(rng: random.Random, text: str) -> str:
    """A byte-different exact copy: case and whitespace the normalizer folds."""
    words = text.split(" ")
    i = rng.randrange(len(words))
    words[i] = words[i].upper()
    return "  ".join(words[:3]) + " " + " ".join(words[3:]) + "\n"


@dataclass
class Corpus:
    name: str
    rows: list[dict] = field(default_factory=list)
    truth: list[dict] = field(default_factory=list)
    pairs: list[dict] = field(default_factory=list)
    _n: int = 0

    def add(self, rng: random.Random, text: str | None,
            group: str | None = None, day: int = 0) -> str:
        """Append a doc of planted ``group`` (default: a group of its own)."""
        url = f"https://{self.name}.example/{self._n:06d}"
        self._n += 1
        ts = _EPOCH + dt.timedelta(days=day, seconds=rng.randrange(86_400))
        self.rows.append({"url": url, "warc_ts": ts, "text": text, "lang": "en"})
        self.truth.append({"url": url, "group": group or url})
        return url

    def pair(self, a: str, b: str, kind: str) -> None:
        self.pairs.append({"url_a": min(a, b), "url_b": max(a, b), "kind": kind})


@dataclass(frozen=True)
class Shape:
    """Doc counts of one corpus; fixed per workload, independent of seed."""

    unique: int = 0
    exact_groups: tuple[int, ...] = ()   # copies per group (original excluded)
    chains: int = 0                      # near-dup chains ...
    chain_len: int = 0                   # ... of this many docs each
    boilerplate: int = 0                 # docs filling one shared template
    substring_pairs: int = 0             # pairs sharing a passage, low Jaccard
    internal_repeat: int = 0             # docs repeating their own block
    ambiguous: int = 0                   # null / below-shingle-width docs


def _fill(c: Corpus, rng: random.Random, s: Shape) -> None:
    for _ in range(s.unique):
        c.add(rng, " ".join(_words(rng, _DOC_WORDS)))
    for size in s.exact_groups:
        text = " ".join(_words(rng, _DOC_WORDS))
        root = c.add(rng, text)
        for _ in range(size):
            c.pair(root, c.add(rng, _restyle(rng, text), root), "exact")
    for _ in range(s.chains):
        words = _words(rng, _DOC_WORDS)
        prev = root = c.add(rng, " ".join(words))
        for _ in range(s.chain_len - 1):
            # each link mutates the previous doc, so the chain's ends fall
            # below the Jaccard threshold and only transitivity joins them
            words = _mutate(rng, words, 2)
            cur = c.add(rng, " ".join(words), root)
            c.pair(prev, cur, "near_chain")
            prev = cur
    if s.boilerplate:
        # templated pages: one shared template of 8-word runs whose fields
        # (one token after each run) differ per doc. ~75% of each doc's
        # shingles are template shingles, so ~30% of LSH bands put every
        # templated doc in one bucket, past the per-bucket cap; yet pairwise
        # Jaccard is ~0.65 and the longest shared substring (one run, under
        # 80 bytes) is below min_common_substring: never duplicates. Field
        # tokens are drawn without replacement: two docs sharing one would
        # share two runs around it, a real >= 120-byte substring duplicate
        runs = [" ".join(_words(rng, 8)) for _ in range(13)]
        fields = iter(rng.sample(range(2**24), s.boilerplate * len(runs)))
        for _ in range(s.boilerplate):
            c.add(rng, " ".join(f"{run} {next(fields):06x}" for run in runs))
    for _ in range(s.substring_pairs):
        # a ~40-word (~250-byte) passage shared by two otherwise unrelated
        # docs: found by the suffix-array pass, not by LSH
        shared = " ".join(_words(rng, 40))
        a = c.add(rng, " ".join(_words(rng, 70)) + f" {shared}")
        b = c.add(rng, f"{shared} " + " ".join(_words(rng, 70)), a)
        c.pair(a, b, "substring")
    for _ in range(s.internal_repeat):
        block = " ".join(_words(rng, 30))
        parts = [" ".join(_words(rng, 25)) for _ in range(3)]
        c.add(rng, f"{parts[0]} {block} {parts[1]} {block} {parts[2]}")
    for i in range(s.ambiguous):
        c.add(rng, None if i % 2 == 0 else "tiny")
        c.truth[-1]["group"] = None  # dropped by normalize: in no cluster


def _shuffled(c: Corpus, rng: random.Random) -> Corpus:
    order = list(range(len(c.rows)))
    rng.shuffle(order)
    c.rows = [c.rows[i] for i in order]
    c.truth = [c.truth[i] for i in order]
    return c


# -- workloads -----------------------------------------------------------------

DUPHEAVY = Shape(
    unique=150,
    exact_groups=(200,) + (20,) * 3 + (5,) * 10 + (2,) * 30,
    chains=20,
    chain_len=6,
    boilerplate=700,
    substring_pairs=30,
    internal_repeat=20,
    ambiguous=10,
)
# set-up warms the session with one unit on this corpus of the same kinds
DUPHEAVY_WARM = Shape(
    unique=40, exact_groups=(10, 2, 2), chains=4, chain_len=4,
    boilerplate=30, substring_pairs=4, internal_repeat=4, ambiguous=2,
)


def pipeline_corpus(seed: int, shape: Shape = DUPHEAVY,
                    name: str = "dupheavy") -> Corpus:
    rng = random.Random(f"{name}:{seed}")
    c = Corpus(name)
    _fill(c, rng, shape)
    return _shuffled(c, rng)


@dataclass(frozen=True)
class DailyShape:
    base: int = 300          # unique docs of the base corpus ...
    base_calls: int = 2      # ... ingested in this many calls
    batches: int = 2         # daily batches after the base
    new_per_batch: int = 80  # fresh unique docs per batch
    exact_per_batch: int = 20
    near_per_batch: int = 40
    # a near copy is a re-crawl of the page with one token changed (a date,
    # a counter). Its difference must sit inside the program's duplicate
    # definition: SimHash Hamming <= 8 of 64 bits rejects ~8% of 110-word
    # docs with 2 tokens changed, which no later pass of dedup_increment
    # recovers (see METRICS.md), but almost none of 250-word docs with one
    # token changed
    doc_words: int = 250
    near_edits: int = 1


DAILY = DailyShape()


def daily_batches(seed: int, shape: DailyShape = DAILY,
                  name: str = "daily") -> list[Corpus]:
    """The base corpus in ``shape.base_calls`` parts, then ``shape.batches``
    daily batches. Each daily batch holds new docs plus exact and near
    copies of docs from EARLIER batches, so every planted pair crosses a
    batch boundary and only the persisted state can find it."""
    rng = random.Random(f"{name}:{seed}")
    batches: list[Corpus] = []
    seen: list[tuple[str, str, str]] = []  # (url, text, group)

    def start() -> Corpus:
        c = Corpus(name, _n=sum(len(b.rows) for b in batches))
        batches.append(c)
        return c

    def fresh(c: Corpus, k: int, day: int) -> None:
        for _ in range(k):
            text = " ".join(_words(rng, shape.doc_words))
            u = c.add(rng, text, day=day)
            seen.append((u, text, u))

    for _ in range(shape.base_calls):
        fresh(start(), shape.base // shape.base_calls, 0)
    for day in range(1, shape.batches + 1):
        c = start()
        earlier = list(seen)
        for src, text, group in rng.sample(earlier, shape.exact_per_batch):
            c.pair(src, c.add(rng, _restyle(rng, text), group, day), "exact")
        for src, text, group in rng.sample(earlier, shape.near_per_batch):
            near = " ".join(_mutate(rng, text.split(" "), shape.near_edits))
            u = c.add(rng, near, group, day)
            c.pair(src, u, "near")
            seen.append((u, near, group))
        fresh(c, shape.new_per_batch, day)
        _shuffled(c, rng)
    return batches


def merged(parts: list[Corpus]) -> Corpus:
    """One corpus holding every part's rows, truth and pairs."""
    c = Corpus(parts[0].name)
    for p in parts:
        c.rows += p.rows
        c.truth += p.truth
        c.pairs += p.pairs
    return c


# -- parquet -------------------------------------------------------------------

_PAGES = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("text", pa.string()), ("lang", pa.string()),
])
_TRUTH = pa.schema([("url", pa.string()), ("group", pa.string())])
_PAIRS = pa.schema([("url_a", pa.string()), ("url_b", pa.string()),
                    ("kind", pa.string())])


def write(c: Corpus, out_dir: str) -> dict[str, str]:
    """Write the corpus tables; returns {table: path}."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for table, rows, schema in (("pages", c.rows, _PAGES),
                                ("truth", c.truth, _TRUTH),
                                ("pairs", c.pairs, _PAIRS)):
        paths[table] = os.path.join(out_dir, f"{table}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), paths[table])
    return paths


def fingerprint(c: Corpus) -> str:
    """sha256 over every row of every table, in order."""
    h = hashlib.sha256()
    for rows in (c.rows, c.truth, c.pairs):
        for r in rows:
            h.update(repr(sorted(r.items())).encode())
    return h.hexdigest()
