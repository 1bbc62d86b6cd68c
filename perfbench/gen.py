"""Seeded inputs for the benchmark workloads, drawn from the sf0.1 tables.

``data/events.parquet`` and ``data/documents.parquet`` are unmodified
copies of the repository's sf0.1 ``events`` and ``documents`` test tables
(see the README for their checksums).  Every workload input is a seeded
slice of them plus a seeded transform; only the parts that have no
counterpart in those tables are synthetic: the client write batches'
overwrites, the rules table, and the crawl's re-crawls.  Every input is a
pure function of ``seed``: the same seed writes byte-identical parquet
files and yields identical client batches, a different seed different
ones.  The library under test only ever sees these inputs.
"""

from __future__ import annotations

import functools
import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

EVENTS_SCHEMA = pa.schema(
    [
        ("user_id", pa.int64()),
        ("event_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        ("writetime", pa.int64()),
    ]
)
EVENTS_DDL = (
    "user_id bigint, event_id bigint, event_type string, value double, "
    "props string, writetime bigint"
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
PAYLOAD = ("event_type", "value", "props")
BATCH_STEP_US = 10_000_000  # writetime step between client batches


def rng_for(seed: int, stream: str) -> random.Random:
    """An independent, reproducible random stream per (seed, purpose)."""
    return random.Random(f"{seed}:{stream}")


def write_table(path: str, rows: list[dict], schema: pa.Schema) -> int:
    """Write rows as ONE parquet file with fixed writer options (so the
    bytes depend on the rows alone) and return its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def write_parts(root: str, rows: list[dict], schema: pa.Schema, n: int) -> int:
    """Write rows as ``n`` parquet files of consecutive rows (so Spark
    reads them as ``n`` partitions) and return their total size."""
    size = (len(rows) + n - 1) // n
    return sum(write_table(os.path.join(root, f"part-{k}.parquet"),
                           rows[k * size:(k + 1) * size], schema) for k in range(n))


def pin_mtimes(paths: list[str]) -> None:
    """Give files strictly ascending mtimes in list order: a file-source
    stream with ``maxFilesPerTrigger=1`` then delivers file k as batch k."""
    base = 1_600_000_000
    for k, p in enumerate(paths):
        os.utime(p, (base + k, base + k))


@functools.lru_cache(maxsize=None)
def _sf_table(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


@functools.lru_cache(maxsize=None)
def sf_events() -> pa.Table:
    """sf0.1 ``events`` in event-id order, ``ts`` carried as the row's
    writetime in µs since the epoch."""
    t = _sf_table("events").sort_by("event_id")
    t = t.append_column("writetime", t.column("ts").cast(pa.int64()))
    return t.select(EVENTS_SCHEMA.names)


def sf_documents() -> list[dict]:
    """sf0.1 ``documents`` in doc-id order."""
    return _sf_table("documents").sort_by("doc_id").select(DOCS_SCHEMA.names).to_pylist()


def seeded_slice(rows, seed: int, stream: str, n: int):
    """``n`` consecutive rows (of a list or a table) from a seeded offset."""
    if n > len(rows):
        raise ValueError(f"a slice of {n} rows from a table of {len(rows)}")
    off = rng_for(seed, stream).randrange(len(rows) - n + 1)
    return rows[off:off + n]


# ---------------------------------------------------------------------------
# retention_lsm inputs: a keyed events table plus a stream of client batches
# ---------------------------------------------------------------------------


@dataclass
class EventsGen:
    """The keyed events table (partition key ``user_id``, clustering key
    ``event_id``, writetime in µs) and its client write batches.

    A seeded slice of sf0.1 ``events`` in event-id order: the first
    ``n_base`` rows are the base table, the rows after them arrive as the
    new keys of the client batches.  Batch ``i`` mixes those new keys with
    overwrites of earlier keys; an overwrite carries the payload of a
    seeded sf0.1 row.  Batch ``i`` is the same for a given seed no matter
    how many batches a run consumes."""

    seed: int
    n_base: int = 20_000
    batch_rows: int = 1500
    overwrite_share: float = 0.3
    max_batches: int = 16
    keys: list[tuple[int, int]] = field(default_factory=list)
    n_batches: int = 0

    def __post_init__(self) -> None:
        events = sf_events()
        self.n_users = pa.compute.max(events.column("user_id")).as_py() + 1
        self.events = events
        n_new = self.batch_rows - int(self.batch_rows * self.overwrite_share)
        rows = seeded_slice(events, self.seed, "events-slice",
                            self.n_base + self.max_batches * n_new).to_pylist()
        self.base, self.arrivals = rows[:self.n_base], rows[self.n_base:]
        self.keys = [(r["user_id"], r["event_id"]) for r in self.base]
        # client batches are stamped after every writetime of the table
        self.last_writetime = max(r["writetime"] for r in rows)

    def batch_writetime(self, i: int) -> int:
        return self.last_writetime + BATCH_STEP_US * (i + 1)

    def next_batch(self) -> tuple[int, list[dict]]:
        """(writetime, rows) of the next client batch.  Rows omit the
        writetime: the batch stamps it with ``USING TIMESTAMP``."""
        i = self.n_batches
        if i == self.max_batches:
            raise ValueError(f"only {self.max_batches} client batches per slice")
        self.n_batches += 1
        rnd = rng_for(self.seed, f"events-batch-{i}")
        n_over = int(self.batch_rows * self.overwrite_share)
        n_new = self.batch_rows - n_over
        over = rnd.sample(self.keys, n_over)
        picks = [rnd.randrange(len(self.events)) for _ in over]
        payloads = self.events.take(picks).select(PAYLOAD).to_pylist()
        rows = [{"user_id": u, "event_id": e, **p} for (u, e), p in zip(over, payloads)]
        for r in self.arrivals[i * n_new:(i + 1) * n_new]:
            self.keys.append((r["user_id"], r["event_id"]))
            rows.append({c: r[c] for c in ("user_id", "event_id", *PAYLOAD)})
        rnd.shuffle(rows)
        return self.batch_writetime(i), rows


def rules_rows(seed: int, n_users: int, n_rules: int = 3, width: float = 0.04) -> list[dict]:
    """A rules table in the engine's schema (rulename, column, range
    struct<lo,hi> as text): disjoint ``user_id`` ranges, each covering
    ``width`` of the users.  Rules name only the partition key, so a rule
    judges every version of a key alike."""
    rnd = rng_for(seed, "rules")
    span = max(1, int(n_users * width))
    slots = rnd.sample(range(n_users // span), n_rules)
    return [
        {
            "rulename": f"rule{k}",
            "column": "user_id",
            "range": {"lo": str(s * span), "hi": str(s * span + span - 1)},
        }
        for k, s in enumerate(sorted(slots))
    ]


def convicted_users(rules: list[dict]) -> list[tuple[int, int]]:
    return [(int(r["range"]["lo"]), int(r["range"]["hi"])) for r in rules]


# ---------------------------------------------------------------------------
# document corpora (crawl_drain and corpus_batch)
# ---------------------------------------------------------------------------


def _typo(rnd: random.Random, word: str) -> str:
    i = rnd.randrange(len(word) + 1)
    return word[:i] + rnd.choice("bcdfghjkmnpqrstvwxz") + word[i:]


def _near_copy(rnd: random.Random, text: str, edit: float) -> str:
    """A near re-crawl: the page edited since, each word misspelt with
    probability ``edit`` (one letter inserted), so its 3-shingle Jaccard
    to the original stays high and the edits are new words."""
    return " ".join(_typo(rnd, w) if w and rnd.random() < edit else w for w in text.split(" "))


def _words(text: str) -> list[str]:
    return [w for w in text.split(" ") if w]


def crawl_shards(
    seed: int,
    n_shards: int,
    docs_per_shard: int,
    exact_share: float = 0.12,
    near_share: float = 0.10,
    edit: float = 0.06,
) -> tuple[list[list[dict]], dict]:
    """A crawl of a seeded doc-id range of sf0.1 ``documents``, cut into
    ascending doc-id-range shards.  In every shard after the first, a
    seeded share of the documents are re-crawls of documents of earlier
    shards: exact copies of their text, or near copies with misspelt
    words.  Only those misspellings are out of vocabulary for a tokenizer
    trained on shard 0 (sf0.1's own word set is small enough for shard 0
    to hold all of it).  Returns (shards, properties)."""
    rnd = rng_for(seed, "crawl")
    docs = seeded_slice(sf_documents(), seed, "crawl-slice", n_shards * docs_per_shard)
    shards: list[list[dict]] = []
    history: list[dict] = []
    n_exact = n_near = 0
    for k in range(n_shards):
        shard = []
        for d in docs[k * docs_per_shard:(k + 1) * docs_per_shard]:
            u = rnd.random()
            src, text = d, d["text"]
            if k and u < exact_share:
                src = rnd.choice(history)
                text = src["text"]
                n_exact += 1
            elif k and u < exact_share + near_share:
                src = rnd.choice(history)
                text = _near_copy(rnd, src["text"], edit)
                n_near += 1
            shard.append({**d, "text": text, "lang": src["lang"], "n_chars": len(text)})
        history.extend(shard)
        shards.append(shard)
    n = n_shards * docs_per_shard
    vocab0 = {w for d in shards[0] for w in _words(d["text"])}
    toks = [w for s in shards[1:] for d in s for w in _words(d["text"])]
    props = {
        "docs": n,
        "doc_ids": f"{docs[0]['doc_id']}..{docs[-1]['doc_id']}",
        "exact_recrawl_share": n_exact / n,
        "near_recrawl_share": n_near / n,
        "oov_word_share_after_shard0": sum(w not in vocab0 for w in toks) / max(1, len(toks)),
    }
    return shards, props


def base_corpus(seed: int, n_docs: int) -> list[dict]:
    """A seeded doc-id range of sf0.1 ``documents``."""
    return seeded_slice(sf_documents(), seed, "corpus-slice", n_docs)


def replicate_corpus(seed: int, docs: list[dict], scale: int) -> list[dict]:
    """``scale`` replicas of ``docs`` by the rule of
    ``scripts/scale_ramp.build_ramp``: replica k > 0 offsets ids by
    k * 1e9 and prefixes every word whose ``[^a-zA-Z0-9]``-stripped,
    lower-cased form is not a stop or language-marker word with a
    replica tag, so each replica has its own token space; ``lang``,
    ``source`` and ``n_chars`` are carried over.  The seed salts the
    tags."""
    from cassandra_util_spark.operators.text import (
        EN_STOPWORDS,
        GOPHER_STOPWORDS,
        LANG_MARKERS,
    )

    preserve = (
        set(EN_STOPWORDS)
        | set(GOPHER_STOPWORDS)
        | {m for ms in LANG_MARKERS.values() for m in ms}
    )
    strip = re.compile("[^a-zA-Z0-9]")
    salt = rng_for(seed, "replica-salt").choice("bcdfghjkmnpqrstvwxz")
    out = list(docs)
    for k in range(1, scale):
        tag = f"r{k}{salt}"
        for d in docs:
            text = " ".join(
                w if strip.sub("", w).lower() in preserve else tag + w
                for w in d["text"].split(" ")
            )
            out.append({**d, "doc_id": d["doc_id"] + k * 1_000_000_000, "text": text})
    return out


def corpus_properties(docs: list[dict]) -> dict:
    """Measured shape of a documents input: words per document and the
    share of documents whose exact text occurs earlier."""
    lens = sorted(len(_words(d["text"])) for d in docs)
    seen: set[str] = set()
    dup = 0
    for d in docs:
        dup += d["text"] in seen
        seen.add(d["text"])
    return {
        "words_per_doc_p10_p50_p90": [lens[len(lens) * q // 10] for q in (1, 5, 9)],
        "exact_duplicate_share": round(dup / max(1, len(docs)), 4),
    }
