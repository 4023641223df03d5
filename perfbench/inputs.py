"""Seeded workload inputs: the same seed gives the same inputs."""

from __future__ import annotations

import string
from collections import Counter
from dataclasses import dataclass

import numpy as np

VOCABULARY = 5000
ZIPF_S = 1.1
WORDS_PER_MESSAGE = (10, 60)  # tens of words; upper bound exclusive
PROPERTY_SHARE = 0.2


def _word(i: int) -> str:
    letters = string.ascii_lowercase
    out = ""
    i += 26  # at least two letters
    while i:
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


@dataclass
class Backlog:
    """WordCount input: one (topic, payload, user properties) per message,
    plus the counts a correct WordCount must produce."""

    topics: list[str]
    payloads: list[bytes]
    properties: list[list[tuple[str, str]] | None]
    counts: dict[str, int]
    max_words: int

    @property
    def payload_bytes(self) -> int:
        return sum(len(p) for p in self.payloads)


def wordcount_backlog(seed: int, n_messages: int) -> Backlog:
    """Zipf-distributed words, seeded topics, and a seeded share of
    messages carrying MQTT user properties."""
    rng = np.random.default_rng([seed, 1])
    vocab = [_word(i) for i in range(VOCABULARY)]
    weights = 1.0 / np.arange(1, VOCABULARY + 1) ** ZIPF_S
    lengths = rng.integers(*WORDS_PER_MESSAGE, n_messages)
    words = rng.choice(VOCABULARY, int(lengths.sum()), p=weights / weights.sum())
    topic_names = [f"plant/{s}/line{l}/text" for s in "abcd" for l in range(4)]
    topic_ix = rng.integers(0, len(topic_names), n_messages)
    has_props = rng.random(n_messages) < PROPERTY_SHARE
    n_props = rng.integers(1, 4, n_messages)
    prop_vals = rng.integers(0, 1000, (n_messages, 3))

    payloads, properties = [], []
    ends = np.cumsum(lengths)
    start = 0
    for m, end in enumerate(ends.tolist()):
        payloads.append(" ".join(vocab[w] for w in words[start:end]).encode())
        start = end
        properties.append(
            [(f"k{j}", str(prop_vals[m, j])) for j in range(n_props[m])]
            if has_props[m]
            else None
        )
    counts = Counter({vocab[w]: int(c) for w, c in enumerate(np.bincount(words))})
    return Backlog(
        topics=[topic_names[i] for i in topic_ix],
        payloads=payloads,
        properties=properties,
        counts={w: c for w, c in counts.items() if c},
        max_words=int(lengths.max()),
    )


LIVE_TOPICS = [f"bench/live/{i}" for i in range(8)]


def live_schedule(seed: int, n_messages: int) -> tuple[list[int], list[str]]:
    """Seeded (tag, topic) per message index of the open-loop stream."""
    rng = np.random.default_rng([seed, 2])
    tags = rng.integers(0, 2**32, n_messages).tolist()
    topics = [LIVE_TOPICS[i] for i in rng.integers(0, len(LIVE_TOPICS), n_messages)]
    return tags, topics


def live_payload(index: int, tag: int, due: float) -> bytes:
    """A live message carries its index, its seeded tag and its due time."""
    return b"%d %08x %.6f" % (index, tag, due)


def parse_live_payload(payload: bytes) -> tuple[int, int, float]:
    index, tag, due = payload.split(b" ")
    return int(index), int(tag, 16), float(due)
