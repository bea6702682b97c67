"""Pure-Python model of the reference topology, the stream output
checker and the latency math.

The model is the reference's semantics: drop a message when
``receiver:sender`` is blocked, else replace every case-insensitive,
literal occurrence of each forbidden word by ``*`` times its length,
folding the words in UTF-8 byte order (the reference's RocksDB key
order). The benchmark's generated text keeps clear of the cases that
order or Unicode case folding would decide (one word length, ASCII
only), so the check pins neither.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


class Censor:
    """The forbidden-word fold for one dictionary version."""

    def __init__(self, words) -> None:
        ordered = sorted((w for w in words if w), key=lambda w: w.encode("utf-8"))
        self.probes = [w.lower() for w in ordered]
        self._rules = [(w.lower(), re.compile(re.escape(w), re.IGNORECASE), "*" * len(w))
                       for w in ordered]

    def __call__(self, text: str | None) -> str | None:
        if text is None:
            return None
        low = text.lower()
        for probe, pattern, mask in self._rules:
            if probe in low:
                text = pattern.sub(mask, text)
                low = text.lower()
        return text


def reference_output(messages, blocked_keys, words) -> list[tuple[str, str, str]]:
    """Batch form of the model: ``messages`` are ``(sender, text,
    receiver)``; returns the surviving, censored rows in input order."""
    censor = Censor(words)
    blocked = set(blocked_keys)
    return [(s, censor(t), r) for s, t, r in messages if f"{r}:{s}" not in blocked]


@dataclass
class Version:
    """The control tables as of wall time ``t``."""

    t: float
    blocked: frozenset
    censor: Censor = field(repr=False)


def replay_versions(initial_blocked, initial_words, log_versions) -> list[Version]:
    """Rebuild every dictionary version from the generator's change log."""
    blocked, words = set(initial_blocked), set(initial_words)
    out = []
    for entry in log_versions:
        for topic, key, value in entry["changes"]:
            target = blocked if topic == "blocked" else words
            target.discard(key)
            if value is not None:
                target.add(key)
        out.append(Version(entry["t"], frozenset(blocked), Censor(words)))
    return out


def check_stream(inputs: pa.Table, outputs: pa.Table, versions: list[Version]) -> list[tuple[int, str]]:
    """Compare the committed output with the model, record by record.

    ``inputs`` has one row per generated record: ``seq``, ``sender``,
    ``receiver``, ``text``, ``created`` (wall time it was due) and
    ``committed`` (wall time the sink committed its batch, NaN if never).
    ``outputs`` holds the sink's rows: ``key``, ``text``, ``receiver``.
    A record may be judged by any dictionary version from the one in
    force at its creation up to the one in force when its batch
    committed. Returns ``[(seq, reason)]`` per failure: never processed,
    duplicated, dropped, wrong or unexpected (an output row that matches
    no generated record; seq -1 when its text has no sequence id).
    """
    failures: list[tuple[int, str]] = []
    seq = inputs.column("seq").to_numpy()
    n = len(seq)
    out_text = outputs.column("text")
    readable = pc.fill_null(pc.match_substring_regex(out_text, "^[0-9]{9} "), False)
    readable = readable.to_numpy(zero_copy_only=False)
    failures += [(-1, "unexpected")] * int((~readable).sum())
    outputs = outputs.filter(pa.array(readable))
    out_seq = pc.cast(pc.utf8_slice_codeunits(outputs.column("text"), 0, 9), pa.int64()).to_numpy()
    pos = np.searchsorted(seq, out_seq)
    known = (pos < n) & (seq[np.minimum(pos, n - 1)] == out_seq)
    failures += [(int(s), "unexpected") for s in out_seq[~known]]
    pos, out_idx = pos[known], np.flatnonzero(known)
    hits = np.bincount(pos, minlength=n)
    first = np.full(n, -1)
    first[pos[::-1]] = out_idx[::-1]
    present = hits > 0
    observed = outputs.take(pa.array(first, mask=~present))

    def agree(a, b) -> np.ndarray:
        return pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)

    same_parties = agree(observed.column("key"), inputs.column("sender")) & agree(
        observed.column("receiver"), inputs.column("receiver"))
    created = inputs.column("created").to_numpy()
    committed = inputs.column("committed").to_numpy()
    processed = ~np.isnan(committed)
    times = np.array([v.t for v in versions])
    lo = np.maximum(np.searchsorted(times, created, side="right") - 1, 0)
    hi = np.maximum(np.searchsorted(times, np.nan_to_num(committed), side="right") - 1, lo)
    pair = pc.binary_join_element_wise(inputs.column("receiver"), inputs.column("sender"), ":")
    text = inputs.column("text").combine_chunks()
    lowered = pc.utf8_lower(text)
    ok = np.zeros(n, dtype=bool)
    for v in range(int(lo.min(initial=0)), int(hi.max(initial=0)) + 1):
        ver = versions[v]
        blocked = pc.is_in(pair, value_set=pa.array(sorted(ver.blocked), pa.string()))
        blocked = blocked.to_numpy(zero_copy_only=False)
        expected = text
        if ver.censor.probes:
            hit = pc.match_substring_regex(lowered, "|".join(re.escape(w) for w in ver.censor.probes))
            masked = [ver.censor(t) for t in text.filter(hit).to_pylist()]
            expected = pc.replace_with_mask(text, hit, pa.array(masked, pa.string()))
        text_ok = agree(observed.column("text"), expected)
        ok |= (lo <= v) & (v <= hi) & np.where(blocked, ~present, present & same_parties & text_ok)
    for i in np.flatnonzero(~processed):
        failures.append((int(seq[i]), "never processed"))
    for i in np.flatnonzero(processed & (hits > 1)):
        failures.append((int(seq[i]), "duplicated"))
    for i in np.flatnonzero(processed & (hits <= 1) & ~ok):
        failures.append((int(seq[i]), "wrong" if present[i] else "dropped"))
    return failures


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of ``values``."""
    xs = np.sort(np.asarray(values, dtype=float))
    if not len(xs):
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    i = int(pos)
    if i + 1 >= len(xs):
        return float(xs[-1])
    return float(xs[i] + (xs[i + 1] - xs[i]) * (pos - i))


def latencies_ms(inputs: pa.Table, window: tuple[float, float]) -> np.ndarray:
    """Creation-to-commit latency of every record created inside
    ``window`` (start exclusive, end inclusive). A record that never
    committed is a failure, counted by the checker, not here."""
    created = inputs.column("created").to_numpy()
    committed = inputs.column("committed").to_numpy()
    keep = (created > window[0]) & (created <= window[1]) & ~np.isnan(committed)
    return (committed[keep] - created[keep]) * 1000.0
