"""The benchmark's own tests: generator, model, checker and latency math.

Run with ``python3 -m pytest perfbench/tests -q``; no Spark session is
started.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import model  # noqa: E402

# The reference's own run: README.md:49-55, FIXTURES.md A1-A4.
GOLDEN_MESSAGES = [
    ("login4", "Java", "login1"),
    ("login2", "Spring", "login1"),
    ("login3", "1С", "login1"),  # Cyrillic С
    ("login5", "Политика React", "login1"),
]
GOLDEN_BLOCKED = ["login1:login2", "login1:login3", "login2:login4"]
GOLDEN_WORDS = ["Политика", "1C", "Алкоголь"]  # Latin C in 1C
GOLDEN_OUTPUT = [("login4", "Java", "login1"), ("login5", "******** React", "login1")]


def test_model_reproduces_reference_golden_output():
    assert model.reference_output(GOLDEN_MESSAGES, GOLDEN_BLOCKED, GOLDEN_WORDS) == GOLDEN_OUTPUT


def test_censor_is_case_insensitive_and_literal():
    censor = model.Censor(["abc", "a.c"])
    assert censor("xABCx aXc a.c") == "x***x aXc ***"


@pytest.mark.parametrize("workload", sorted(gen.SPECS))
def test_stream_generator_is_deterministic_for_a_seed(workload):
    spec = gen.SPECS[workload]
    a, b, other = gen.World(spec, 7), gen.World(spec, 7), gen.World(spec, 8)
    assert a.tick_records(3) == b.tick_records(3)
    assert a.tick_records(3) != other.tick_records(3)
    assert (a.initial_blocked, a.initial_words) == (b.initial_blocked, b.initial_words)
    blocked, words = set(a.initial_blocked), set(a.initial_words)
    active = a.tick_records(4)
    assert a.control_event(1, blocked, words, active) == b.control_event(1, blocked, words, active)


def test_generated_text_avoids_open_semantics():
    """One word length and ASCII only: no forbidden word can overlap
    another or sit inside one, and case folding is ASCII's."""
    world = gen.World(gen.SPECS["stream_blocklist"], 3)
    assert {len(w) for w in world.vocab} == {gen.WORD_LEN}
    for seq, sender, receiver, text in world.tick_records(0):
        assert text.isascii() and text.startswith(f"{seq:09d} ")
        assert sender != receiver
        assert all(len(tok) == gen.WORD_LEN and tok.isalpha() for tok in text.split()[1:])


def test_batch_tables_are_deterministic_for_a_seed():
    a, b = gen.make_tables(5), gen.make_tables(5)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in ("lineitem", "documents"):
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(gen.make_tables(6)["lineitem"])


# ---------------------------------------------------------------- checker

def _records(n=6):
    rows = [(i, f"u{i}", f"u{i + 100}", f"{i:09d} hello world{' Banned' if i % 2 else ''}") for i in range(n)]
    return pa.table({
        "seq": pa.array([r[0] for r in rows], pa.int64()),
        "sender": [r[1] for r in rows],
        "receiver": [r[2] for r in rows],
        "text": [r[3] for r in rows],
        "created": pa.array([10.0] * n),
        "committed": pa.array([12.0] * n),
    })


def _expected_output(inputs, blocked, words):
    out = model.reference_output(
        list(zip(inputs.column("sender").to_pylist(), inputs.column("text").to_pylist(),
                 inputs.column("receiver").to_pylist())),
        blocked, words)
    return {"key": [s for s, _, _ in out], "text": [t for _, t, _ in out],
            "receiver": [r for _, _, r in out]}


def _versions(blocked, words, t=0.0):
    return model.replay_versions(blocked, words, [{"v": 0, "t": t, "changes": []}])


def test_checker_accepts_the_model_output():
    inputs = _records()
    blocked, words = ["u102:u2"], ["banned"]
    out = pa.table(_expected_output(inputs, blocked, words))
    assert out.num_rows == 5
    assert model.check_stream(inputs, out, _versions(blocked, words)) == []


def test_checker_flags_an_injected_wrong_record():
    inputs = _records()
    out = _expected_output(inputs, [], ["banned"])
    out["text"][1] = out["text"][1].replace("******", "Banned")
    assert model.check_stream(inputs, pa.table(out), _versions([], ["banned"])) == [(1, "wrong")]


def test_checker_flags_an_injected_dropped_record():
    inputs = _records()
    out = _expected_output(inputs, [], ["banned"])
    for col in out.values():
        del col[3]
    assert model.check_stream(inputs, pa.table(out), _versions([], ["banned"])) == [(3, "dropped")]


def test_checker_flags_duplicated_unexpected_and_unprocessed_records():
    inputs = _records()
    out = _expected_output(inputs, [], [])
    extras = (["u0", "u9"], [out["text"][0], "000000099 stray"], ["u100", "u109"])
    for col, extra in zip(out.values(), extras):
        col.extend(extra)
    committed = inputs.column("committed").to_numpy().copy()
    committed[5] = np.nan
    inputs = inputs.set_column(5, "committed", pa.array(committed))
    failures = model.check_stream(inputs, pa.table(out), _versions([], []))
    assert sorted(failures) == [(0, "duplicated"), (5, "never processed"), (99, "unexpected")]


def test_checker_allows_any_version_between_creation_and_commit():
    inputs = _records(2)  # created at 10, committed at 12
    log = [
        {"v": 0, "t": 0.0, "changes": []},
        {"v": 1, "t": 11.0, "changes": [["words", "banned", "ban"]]},
        {"v": 2, "t": 13.0, "changes": [["words", "hello", "ban"]]},
    ]
    versions = model.replay_versions([], [], log)
    old = _expected_output(inputs, [], [])
    new = _expected_output(inputs, [], ["banned"])
    assert model.check_stream(inputs, pa.table(old), versions) == []
    assert model.check_stream(inputs, pa.table(new), versions) == []
    # version 2 came after the commit: not allowed
    late = _expected_output(inputs, [], ["banned", "hello"])
    assert [r for _, r in model.check_stream(inputs, pa.table(late), versions)] == ["wrong", "wrong"]


# ---------------------------------------------------------------- latency

def test_latency_math_on_a_synthetic_schedule():
    # ticks every 0.1 s from t=0.1, two records each; batches commit at
    # 1.0 (ticks due by 0.5) and 2.0 (the rest, due up to 1.0)
    due = np.repeat(np.arange(1, 11) * 0.1, 2)
    committed = np.where(due <= 0.5 + 1e-9, 1.0, 2.0)
    inputs = pa.table({"created": pa.array(due), "committed": pa.array(committed)})
    lat = model.latencies_ms(inputs, (0.0, 1.0))
    assert len(lat) == 20
    expected = sorted((c - d) * 1000 for c, d in zip(committed, due))
    assert model.percentile(lat, 50) == pytest.approx((expected[9] + expected[10]) / 2)
    assert model.percentile(lat, 100) == pytest.approx(1400.0)  # due 0.6, committed 2.0
    assert model.percentile(lat, 0) == pytest.approx(500.0)
    # the window excludes warm-up records and never-committed ones
    inputs = pa.table({"created": pa.array([0.5, 1.5, 2.5]), "committed": pa.array([1.0, 2.0, np.nan])})
    assert list(model.latencies_ms(inputs, (1.0, 3.0))) == pytest.approx([500.0])


def test_percentile_interpolates_linearly():
    assert model.percentile([1, 2, 3, 4], 50) == 2.5
    assert model.percentile([5], 99) == 5.0
    with pytest.raises(ValueError):
        model.percentile([], 50)
