"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed, so the checker can
recompute any generated record instead of shipping it around:

* the reference topology's inputs: Kafka-shaped message frames
  (``key`` = sender, ``value`` = JSON ``Message``, ``timestamp`` =
  creation time) and the two control changelogs (blocked pairs,
  forbidden words) as ``(key, value, offset)`` parquet files;
* the batch tables of the query mix (TPC-H-like relations, documents,
  events, embeddings) with the shapes of the sf0.1 test data.

Run as a script it is the benchmark's load generator, a single-threaded
process separate from Spark::

    python3 perfbench/gen.py stream <work_dir> <workload> <seed>
    python3 perfbench/gen.py tables <out_dir> <seed>

In ``stream`` mode it writes the initial control tables and the drain
backlog (a directory of its own), prints ``ready``, then waits for
``go <seconds>`` on stdin and publishes one atomically renamed file per
tick on an open-loop schedule, writing a control change every
``control_every_s``. It ends with ``done`` after writing
``gen_log.json``.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FRAME_SCHEMA = pa.schema(
    [("key", pa.binary()), ("value", pa.binary()), ("timestamp", pa.timestamp("ms"))]
)
FRAME_DDL = "key binary, value binary, timestamp timestamp"
CONTROL_SCHEMA = pa.schema([("key", pa.string()), ("value", pa.string()), ("offset", pa.int64())])

WORD_LEN = 7  # one length for every word: no word can sit inside another
WORDS_PER_MESSAGE = (4, 5)


# Traffic shared by the stream workloads.
TICK_S = 0.1  # one published file per tick
USERS = 1000
BLOCKED_PAIRS = 1000
VOCAB = 2000
CONTROL_EVERY_S = 10.0  # a control change (block, ban, tombstone) this often
HOT_PAIR_SHARE = 0.05  # messages sent along an initially blocked pair
# Untimed capped batches that start a drain: in a new JVM the second
# batch is still about 15% slower than the ones after it.
DRAIN_WARMUP = 2


@dataclass(frozen=True)
class StreamSpec:
    """What sets one stream workload apart."""

    name: str
    rate: int  # offered rows/s, open loop
    n_words: int  # forbidden-word dictionary size
    cap_files: int  # maxFilesPerTrigger: the rows-per-batch cap is cap_files * tick_rows
    drain_batches: int  # capped backlog batches timed after DRAIN_WARMUP untimed ones

    @property
    def tick_rows(self) -> int:
        return int(round(self.rate * TICK_S))

    @property
    def backlog_ticks(self) -> int:
        return self.cap_files * (self.drain_batches + DRAIN_WARMUP)


SPECS = {
    "stream_ref": StreamSpec("stream_ref", rate=5_000, n_words=3, cap_files=80, drain_batches=6),
    "stream_blocklist": StreamSpec(
        "stream_blocklist", rate=500, n_words=200, cap_files=60, drain_batches=2
    ),
}


def stream_params(name: str) -> dict:
    """Every parameter of a stream workload, for the result's provenance."""
    return {**asdict(SPECS[name]), "tick_s": TICK_S, "users": USERS, "blocked_pairs": BLOCKED_PAIRS,
            "vocab": VOCAB, "control_every_s": CONTROL_EVERY_S, "drain_warmup": DRAIN_WARMUP, "hot_pair_share": HOT_PAIR_SHARE}


class World:
    """The seeded universe a stream workload draws from."""

    def __init__(self, spec: StreamSpec, seed: int) -> None:
        self.spec = spec
        self.seed = seed
        rng = random.Random(f"world:{seed}")
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab: set[str] = set()
        while len(vocab) < VOCAB:
            vocab.add("".join(rng.choice(letters) for _ in range(WORD_LEN)))
        self.vocab = sorted(vocab)
        rng.shuffle(self.vocab)
        # Zipf-like word frequencies: a few common words, a long tail
        self.cum_weights = np.cumsum([1.0 / (r + 10) for r in range(VOCAB)])
        # each word as written: lower case, Capitalized, UPPER
        self.forms = [self.vocab, [w.capitalize() for w in self.vocab], [w.upper() for w in self.vocab]]
        self.users = [f"u{i:04d}" for i in range(USERS)]
        pairs: set[tuple[str, str]] = set()
        while len(pairs) < BLOCKED_PAIRS:
            r, s = rng.sample(self.users, 2)
            pairs.add((r, s))
        self.initial_blocked = sorted(f"{r}:{s}" for r, s in pairs)
        self.hot_pairs = sorted(pairs)[: BLOCKED_PAIRS // 10]
        self.initial_words = sorted(rng.sample(self.vocab, spec.n_words))

    def tick_records(self, tick: int) -> list[tuple[int, str, str, str]]:
        """The records of one tick: ``(seq, sender, receiver, text)``.

        ``text`` starts with the zero-padded sequence id, which no
        forbidden word (letters only) can match, then 4-5 words in
        mixed ASCII case.
        """
        spec = self.spec
        rng = np.random.default_rng([self.seed, tick])
        n, u, k_max = spec.tick_rows, len(self.users), WORDS_PER_MESSAGE[1]
        senders = rng.integers(0, u, n)
        receivers = (senders + rng.integers(1, u, n)) % u
        hot = rng.random(n) < HOT_PAIR_SHARE
        hot_pick = rng.integers(0, len(self.hot_pairs), n)
        n_words = rng.integers(WORDS_PER_MESSAGE[0], k_max + 1, n)
        words = np.searchsorted(self.cum_weights, rng.random(n * k_max) * self.cum_weights[-1])
        words = np.minimum(words, len(self.vocab) - 1).reshape(n, k_max).tolist()
        case = rng.random(n * k_max)
        forms = np.where(case < 0.1, 2, np.where(case < 0.3, 1, 0)).reshape(n, k_max).tolist()
        out = []
        for i in range(n):
            seq = tick * n + i
            if hot[i]:
                receiver, sender = self.hot_pairs[hot_pick[i]]
            else:
                sender, receiver = self.users[senders[i]], self.users[receivers[i]]
            toks = [self.forms[f][w] for f, w in zip(forms[i][: n_words[i]], words[i][: n_words[i]])]
            out.append((seq, sender, receiver, f"{seq:09d} " + " ".join(toks)))
        return out

    def control_event(self, version: int, blocked: set[str], words: set[str], active: list):
        """Control change ``version`` (1-based): block a pair among the
        active users, ban a new word, tombstone an old one. Returns the
        changelog rows ``[(topic, key, value)]``; ``value`` None is a
        tombstone."""
        rng = random.Random(f"control:{self.seed}:{version}")
        candidates = [f"{r}:{s}" for (_, s, r, _) in active if f"{r}:{s}" not in blocked]
        pair = rng.choice(candidates)
        new_word = rng.choice(sorted(set(self.vocab) - words))
        old_word = rng.choice(sorted(words))
        return [("blocked", pair, "blocked"), ("words", new_word, "ban"), ("words", old_word, None)]


def frames_table(records: list, created: float) -> pa.Table:
    """Records -> Kafka-shaped frame table, every row stamped ``created``."""
    keys = [s.encode() for (_, s, _, _) in records]
    vals = [json.dumps({"text": t, "receiver": r}).encode() for (_, _, r, t) in records]
    ts = pa.array([int(created * 1000)] * len(records), pa.timestamp("ms"))
    return pa.table([pa.array(keys, pa.binary()), pa.array(vals, pa.binary()), ts], schema=FRAME_SCHEMA)


def write_atomic(table: pa.Table, tmp_dir: str, dest_dir: str, name: str) -> None:
    """Write to ``tmp_dir`` then rename into ``dest_dir``: a reader sees
    the whole file or nothing."""
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(dest_dir, name))


def control_table(rows: list, first_offset: int) -> pa.Table:
    return pa.table(
        {
            "key": [k for k, _ in rows],
            "value": [v for _, v in rows],
            "offset": list(range(first_offset, first_offset + len(rows))),
        },
        schema=CONTROL_SCHEMA,
    )


def tick_file(tick: int) -> str:
    return f"t{tick:07d}.parquet"


def stream_dirs(work: str) -> dict[str, str]:
    return {
        d: os.path.join(work, d) for d in ("backlog", "messages", "blocked", "words", "gen_tmp")
    }


def run_stream_generator(work: str, workload: str, seed: int) -> None:
    spec = SPECS[workload]
    world = World(spec, seed)
    dirs = stream_dirs(work)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    offset = 0
    blocked = set(world.initial_blocked)
    words = set(world.initial_words)
    write_atomic(
        control_table([(k, "blocked") for k in world.initial_blocked], offset),
        dirs["gen_tmp"], dirs["blocked"], "v000000.parquet",
    )
    offset += len(world.initial_blocked)
    write_atomic(
        control_table([(w, "ban") for w in world.initial_words], offset),
        dirs["gen_tmp"], dirs["words"], "v000000.parquet",
    )
    offset += len(world.initial_words)
    log: dict = {"seed": seed, "workload": workload, "ticks": [], "versions": []}
    log["versions"].append({"v": 0, "t": time.time(), "changes": []})
    for tick in range(spec.backlog_ticks):
        now = time.time()
        write_atomic(frames_table(world.tick_records(tick), now), dirs["gen_tmp"],
                     dirs["backlog"], tick_file(tick))
        log["ticks"].append({"tick": tick, "due": now, "pub": time.time(), "backlog": True})
    print("ready", flush=True)

    cmd = sys.stdin.readline().split()
    if not cmd or cmd[0] != "go":
        return
    seconds = float(cmd[1])
    t0 = time.time()
    n_live = int(round(seconds / TICK_S))
    per_control = int(round(CONTROL_EVERY_S / TICK_S))
    version = 0
    for k in range(n_live):
        tick = spec.backlog_ticks + k
        due = t0 + (k + 1) * TICK_S
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        records = world.tick_records(tick)
        if k > 0 and k % per_control == 0:
            version += 1
            changes = world.control_event(version, blocked, words, records)
            for topic, key, value in changes:
                (blocked if topic == "blocked" else words).discard(key)
                if value is not None:
                    (blocked if topic == "blocked" else words).add(key)
            for topic in ("blocked", "words"):
                rows = [(key, value) for t, key, value in changes if t == topic]
                write_atomic(control_table(rows, offset), dirs["gen_tmp"], dirs[topic],
                             f"v{version:06d}.parquet")
                offset += len(rows)
            log["versions"].append({"v": version, "t": time.time(), "changes": changes})
        write_atomic(frames_table(records, due), dirs["gen_tmp"], dirs["messages"], tick_file(tick))
        log["ticks"].append({"tick": tick, "due": due, "pub": time.time(), "backlog": False})
    with open(os.path.join(work, "gen_log.json"), "w") as f:
        json.dump(log, f)
    print("done", flush=True)


# ---------------------------------------------------------------- batch tables

SF = 0.1
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)).astype("datetime64[us]")


def make_tables(seed: int) -> dict[str, pa.Table]:
    """The query mix's tables at sf0.1, shaped like the repo's test data."""
    rng = np.random.default_rng(seed)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    n_cust, n_supp, n_part, n_ord, n_li = 15_000, 1_000, 20_000, 150_000, 600_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["small", "large", "red", "hot", "cold", "old", "new", "shiny"])
    noun = np.array(["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "spring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    n_ev = 100_000
    start = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.sort(start + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = 5_000
    texts = [" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), rng.integers(10, 101)))
             for _ in range(n_doc)]
    for j in rng.choice(np.arange(1, n_doc), 250, replace=False):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    n_emb = 2_000
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "stream":
        run_stream_generator(sys.argv[2], sys.argv[3], int(sys.argv[4]))
    elif mode == "tables":
        write_tables(sys.argv[2], int(sys.argv[3]))
    else:
        raise SystemExit(f"unknown mode {mode!r}")
