"""Seeded benchmark inputs, generated without Spark.

Every table is a pure function of ``(seed, size)``:

- ``transcripts``: the rows ``synthgen.gen_transcripts(spark, n_convs,
  seed)`` produces with its defaults (1% hot conversations, 30% with a
  multi-bucket silence), built by calling the same per-conversation
  generator directly, so no JVM is started to make them.
- ``events`` / ``documents``: tables with the schema and value ranges
  of the fixed-seed ``events`` / ``documents`` test tables that the
  registry queries read (one month of events over ~67 events per
  user; word-soup documents with a few exact duplicates).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from yahoo_anomaly_detection_spark import synthgen

# gen_transcripts defaults
MEAN_TURNS = 40
HOT_EVERY = 100
MAX_WORDS = 40

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 10**6
EVENTS_PER_USER = 200 / 3
DOC_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
DOC_LANGS = np.array(["en", "zh", "es", "fr", "de"])
DOC_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
DOC_SOURCES = 20
DOC_DUP_EVERY = 600


def transcripts(seed: int, n_convs: int) -> pd.DataFrame:
    """Exactly the rows of ``gen_transcripts(spark, n_convs, seed)``."""
    frames = [
        synthgen._conv_turns(seed, conv, MEAN_TURNS, HOT_EVERY, MAX_WORDS)
        for conv in range(n_convs)
    ]
    return pd.concat(frames, ignore_index=True)


def convs_for_turns(seed: int, min_turns: int) -> int:
    """Fewest leading conversations holding at least ``min_turns`` turns.

    Sizing by turns, not conversations, keeps the input size nearly
    equal across seeds despite the hot conversations (a few hundred
    conversations vary by ~8% in turns from seed to seed)."""
    total, conv = 0, 0
    while total < min_turns:
        total += synthgen._conv_plan(seed, conv, MEAN_TURNS, HOT_EVERY)[1]
        conv += 1
    return conv


def transcripts_table(pdf: pd.DataFrame) -> pa.Table:
    """Arrow table with ``synthgen.TRANSCRIPTS_SCHEMA`` types; ``ts`` is
    stored UTC-adjusted so Spark reads it back as TimestampType."""
    return pa.table({
        "conv_id": pa.array(pdf["conv_id"], pa.string()),
        "turn_idx": pa.array(pdf["turn_idx"], pa.int32()),
        "role": pa.array(pdf["role"], pa.string()),
        "text": pa.array(pdf["text"], pa.string()),
        "tool": pa.array(pdf["tool"], pa.string()),
        "ts": pa.array(pdf["ts"].to_numpy("datetime64[us]"),
                       pa.timestamp("us", tz="UTC")),
    })


def events(seed: int, n_events: int) -> pd.DataFrame:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    n_users = max(1, round(n_events / EVENTS_PER_USER))
    off = np.sort(rng.integers(0, EVENTS_SPAN_US, n_events))
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": EVENTS_START + off.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    n_words = rng.integers(8, 106, n_docs)
    words = DOC_VOCAB[rng.integers(0, len(DOC_VOCAB), int(n_words.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(n_words)[:-1])]
    # a few exact duplicates of earlier documents
    for i in range(DOC_DUP_EVERY, n_docs, DOC_DUP_EVERY):
        texts[i] = texts[int(rng.integers(0, i))]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": DOC_LANGS[rng.choice(len(DOC_LANGS), n_docs, p=DOC_LANG_P)],
        "source": [f"src{i % DOC_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_parquet(table: pa.Table | pd.DataFrame, path: str) -> None:
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    pq.write_table(table, path)
