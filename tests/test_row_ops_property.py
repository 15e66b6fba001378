"""Model-based property test for the row-level table ops: ANY
interleaving of conversation upserts, deletes, compactions and
rollbacks must leave the committed table exactly equal to a trivial
driver-side model (conv -> per-sink row counts), with the manifest
lineage conserving the table's row counts after every step.

Upserts are merge-on-read (a delta run per touched bucket), compaction
folds the layers and rollback re-points them, so after EVERY step each
read path is checked against the model: ``read_conversation``,
``read_conversations``, ``read_time_range``, ``read_routed``, the
``as_of`` read of the previous snapshot, and the manifest's live
counts. The change feed is checked beside them: each delete, upsert
or compaction snapshot's signed rows take the model of the snapshot
before to the model after, a rollback raises, and a sequence without
one replays from -1 to the final table.

This is the test shape Iceberg uses for its own row-delta semantics
(random op sequences vs a reference table); hypothesis drives the
sequences, a fresh copy of the committed fixture per example.
"""

from __future__ import annotations

import datetime
import shutil
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from logparse_spark import pipeline
from logparse_spark.rules import load_rules
from logparse_spark.sinks import SinkSet, load_manifest

RULES = "/root/repo/rules/default.rules"

TEXTS = [
    "err 9 step 2: schema mismatch detected",     # report rule
    "login failed for user prop",                 # count rule
    "heartbeat ping seq=123",                     # ignore rule
    "totally unmatched free text",                # unmatched
]
# upserted rows carry this day; the fixture's turns are all earlier
UPSERT_TS = datetime.datetime(2026, 5, 1)

# op := ("delete", [conv_slot, ...]) | ("upsert", conv_slot, n_turns,
#       text_idx) | ("compact",) | ("rollback",)
# conv_slot 0..5: slots 0..3 alias the fixture's first 4 conversations,
# slots 4..5 are brand-new ids (insert-then-maybe-delete paths)
_op = st.one_of(
    st.tuples(st.just("delete"),
              st.lists(st.integers(0, 5), min_size=1, max_size=3)),
    st.tuples(st.just("upsert"), st.integers(0, 5),
              st.integers(1, 5), st.integers(0, len(TEXTS) - 1)),
    st.tuples(st.just("compact")),
    st.tuples(st.just("rollback")),
)


def _sink_of(text: str) -> str:
    from tests.oracle_ref import classify_row

    return classify_row(text, None, load_rules(RULES))["sink_id"]


def _flat(model: dict) -> Counter:
    """{(conv, sink): rows} of a model."""
    return +Counter({(c, s): k for c, (n, _) in model.items()
                     for s, k in n.items()})


def _replay(base: Counter, feed) -> Counter:
    """``base`` with the feed's signed rows applied."""
    out = Counter(base)
    for r in feed.collect():
        out[(r["conv_id"], r["sink_id"])] += \
            -1 if r["_change_type"] == "delete" else 1
    return out


def _counts(df) -> dict:
    """{conv: Counter(sink -> rows)} of a routed-row frame."""
    out: dict[str, Counter] = {}
    for r in df.groupBy("conv_id", "sink_id").count().collect():
        out.setdefault(r["conv_id"], Counter())[r["sink_id"]] = r["count"]
    return out


@pytest.fixture(scope="module")
def base_table(spark, fixture_sf_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("prop_base"))
    pipeline.run(
        spark,
        source_path=f"{fixture_sf_small}/transcripts.parquet",
        out_dir=out,
        rules_path=RULES,
        dict_dir=fixture_sf_small,
        buckets=8,
    )
    return out, _counts(SinkSet(out_dir=out)._read_committed(spark))


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=st.lists(_op, min_size=1, max_size=4))
def test_op_sequences_match_model(spark, base_table, tmp_path_factory, ops):
    base, base_counts = base_table
    table = str(tmp_path_factory.mktemp("prop") / "t")
    shutil.copytree(base, table)
    fixture_convs = sorted(base_counts)[:4]
    slot = {i: c for i, c in enumerate(fixture_convs)}
    slot[4], slot[5] = "convPROPNEW04", "convPROPNEW05"

    # conv -> (Counter(sink -> rows), rows carry UPSERT_TS)
    model = {c: (n, False) for c, n in base_counts.items()}
    # snapshot id -> the model it must read as
    first = len(SinkSet(out_dir=table).snapshots()) - 1
    at = {first: dict(model)}
    src_root = tmp_path_factory.mktemp("prop_src")
    rolled_back = False

    for i, op in enumerate(ops):
        ss = SinkSet(out_dir=table)
        n_snaps = len(ss.snapshots())
        if op[0] == "delete":
            convs = sorted({slot[s] for s in op[1]})
            res = ss.delete_conversations(spark, convs)
            expected_gone = sum(sum(model.pop(c, (Counter(), 0))[0].values())
                                for c in convs)
            assert res["rows_deleted"] == expected_gone
            probe = convs[0]
        elif op[0] == "upsert":
            _, s, n_turns, t_idx = op
            conv = slot[s]
            src = str(src_root / f"u{i}.parquet")
            spark.createDataFrame(
                [(conv, j, "assistant", TEXTS[t_idx], None, UPSERT_TS)
                 for j in range(n_turns)],
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts timestamp_ntz",
            ).coalesce(1).write.mode("overwrite").parquet(src)
            res = pipeline.upsert(spark, src, table, rules_path=RULES)
            assert res["rows_deleted"] == sum(
                model.get(conv, (Counter(), 0))[0].values())
            assert res["rows_inserted"] == n_turns
            model[conv] = (Counter({_sink_of(TEXTS[t_idx]): n_turns}), True)
            probe = conv
        elif op[0] == "compact":
            res = ss.compact(spark)
            manifest = load_manifest(table)["buckets"]
            assert not any(m.get("delta_run_id") for m in manifest.values())
            probe = slot[0]
        else:  # rollback to the previous snapshot, when the model knows it
            if n_snaps - 2 not in at:
                continue
            ss.rollback(n_snaps - 2)
            rolled_back = True
            model = dict(at[n_snaps - 2])
            probe = slot[0]
        latest = len(SinkSet(out_dir=table).snapshots()) - 1
        at[latest] = dict(model)

        # the change feed: a rollback raises, any other new snapshot's
        # signed rows take the model before to the model after
        feed = lambda: SinkSet(out_dir=table).changes(  # noqa: E731
            spark, since=latest - 1, until=latest)
        if op[0] == "rollback":
            with pytest.raises(ValueError, match="rollback"):
                feed()
        elif latest == n_snaps:
            got = _replay(_flat(at[latest - 1]), feed())
            assert all(n >= 0 for n in got.values())
            assert +got == _flat(model)
        want = {c: n for c, (n, _) in model.items() if sum(n.values())}

        # the manifest's live counts conserve the model
        manifest = load_manifest(table)["buckets"]
        assert sum(m["rows"] for m in manifest.values()) == \
            sum(sum(n.values()) for n in want.values())
        live_sinks = Counter()
        for m in manifest.values():
            live_sinks.update(m["sinks"])
        assert +live_sinks == +sum(want.values(), Counter())

        ss = SinkSet(out_dir=table)
        routed = {c: Counter({s: k for s, k in n.items() if s != "ignored"})
                  for c, n in want.items()}
        routed = {c: n for c, n in routed.items() if n}
        assert _counts(ss.read_routed(spark)) == routed
        assert _counts(ss.read_conversation(spark, probe)) == \
            ({probe: want[probe]} if probe in want else {})
        ids = sorted(slot.values())
        assert _counts(ss.read_conversations(spark, ids)) == \
            {c: want[c] for c in ids if c in want}
        in_window = {c: n for c, n in want.items() if model[c][1]}
        assert _counts(ss.read_time_range(
            spark, UPSERT_TS, UPSERT_TS + datetime.timedelta(days=1))) \
            == in_window
        if latest - 1 in at:
            prev = {c: Counter({s: k for s, k in n.items() if s != "ignored"})
                    for c, (n, _) in at[latest - 1].items()}
            assert _counts(ss.read_routed(spark, as_of=latest - 1)) == \
                {c: n for c, n in prev.items() if n}

    # final state: the table IS the model
    got = _counts(SinkSet(out_dir=table)._read_committed(spark)) \
        if sum(sum(n.values()) for n, _ in model.values()) else {}
    assert got == {c: n for c, (n, _) in model.items() if sum(n.values())}
    if not rolled_back:
        replayed = _replay(Counter(), SinkSet(out_dir=table).changes(
            spark, since=-1))
        assert all(n >= 0 for n in replayed.values())
        assert +replayed == _flat(model)
    # every committed layer survives vacuum; the live table reads alike
    SinkSet(out_dir=table).vacuum(min_age_minutes=0)
    assert (_counts(SinkSet(out_dir=table)._read_committed(spark))
            if got else {}) == got


# ids that stress the UTF-8 bytes the driver-side bucket hash reads and
# the hex-literal SQL string ``_conv_in`` sends (quote, backslash, empty,
# multi-byte UTF-8, emoji), and lengths across xxhash64's 4-, 8- and
# 32-byte block boundaries
_ODD_IDS = ["", "'", "\\", "''", "\\'", "a'b\\c", "é", "日本語", "😀",
            "x😀'"]
_conv_id = st.one_of(
    st.sampled_from(_ODD_IDS),
    st.sampled_from([3, 4, 5, 7, 8, 9, 31, 32, 33, 63, 64, 65, 100]).flatmap(
        lambda n: st.text(st.sampled_from("ab'\\"), min_size=n,
                          max_size=n)),
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=40),
)


@settings(max_examples=100, deadline=None)
@given(ids=st.lists(_conv_id, min_size=1, max_size=30),
       nb=st.sampled_from([1, 4, 7, 1024, 1 << 20]))
def test_bucket_hash_matches_write_path(spark, ids, nb):
    """The readers' and row ops' driver-side bucket hash places every
    id where the write path's ``pmod(xxhash64(conv_id), nb)`` over a
    DataFrame of the same ids does, and their ``conv_id IN`` filter
    keeps exactly those ids."""
    from pyspark.sql import functions as F

    from logparse_spark.sinks import _bucket_ids, _conv_in

    df = spark.createDataFrame([(c,) for c in ids], "conv_id string")
    got = {c: b for b, cs in _bucket_ids(ids, nb).items() for c in cs}
    want = {
        r["conv_id"]: r["b"] for r in
        df.select("conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(nb))
                  .cast("int").alias("b")).collect()
    }
    assert got == want
    assert {r["conv_id"] for r in df.filter(_conv_in(ids[:1])).collect()} \
        == {ids[0]}


# Spark's ``xxhash64(id)`` for fixed ids, recorded once from the JVM:
# empty, 1-byte, ASCII ids of 10 and 31/32/33/64/100 bytes (the 32-byte
# stripe and its 8- and 4-byte tails), multi-byte UTF-8 and emoji.
# Several are negative, so the signed conversion and ``pmod`` are pinned.
_XXH64_GOLDEN = {
    "": -7444071767201028348,
    "a": -8582455328737087284,
    "'": 7314282908244617721,
    "conv000001": 9105322995198843880,
    "conv999999": 9132128158448768373,
    "é": 2065146811275570100,
    "日本語": -619341062884681239,
    "😀": -5869505314936196641,
    "x😀'": 4941822310033669129,
    "conv-ÿ-🙂": 902637313888375313,
    "a" * 31: 1155894261107880164,
    "b" * 32: -1438608897990026366,
    "c" * 33: -1179826573222783796,
    "d" * 64: -4547361796508127087,
    "e" * 100: 7135980406481498288,
}


def test_bucket_hash_golden_values():
    """The pure-Python XXH64 (seed 42) reproduces recorded JVM values
    without a Spark session, and ``_bucket_ids`` buckets by their
    ``pmod``: a non-negative remainder, also for negative hashes."""
    from logparse_spark.sinks import _bucket_ids, _xxh64

    assert {c: _xxh64(c.encode("utf-8")) for c in _XXH64_GOLDEN} == \
        _XXH64_GOLDEN
    assert any(h < 0 for h in _XXH64_GOLDEN.values())
    for nb in (1, 2, 7, 1024, 1 << 20):
        assert _bucket_ids(list(_XXH64_GOLDEN), nb) == {
            b: [c for c, h in _XXH64_GOLDEN.items() if h % nb == b]
            for b in {h % nb for h in _XXH64_GOLDEN.values()}
        }
    assert _bucket_ids([], 4) == {}
