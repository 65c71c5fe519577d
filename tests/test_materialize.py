"""The centralized materialization primitives (round 13, verdict
item 2): one definition site for the localCheckpoint fault-tolerance
trade, raw calls banned from the engine, and mode switches that change
WHERE bytes live but never the rows."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

from flink_scala_spark import materialize

ENGINE_ROOT = os.path.join(os.path.dirname(__file__), "..", "flink_scala_spark")

#: A raw lineage-truncating call: ``.localCheckpoint(``, or
#: ``checkpoint(`` as a method (``df.checkpoint(``) or a bare name —
#: but not a longer identifier such as ``loop_checkpoint(``.
RAW_MATERIALIZE = re.compile(r"\.localCheckpoint\(|(?<!\w)checkpoint\(")


def test_no_raw_local_checkpoint_outside_materialize():
    """Every lineage-truncating materialization must go through
    materialize.shared_bounded / loop_checkpoint so the cluster
    fault-tolerance trade (executor-only blocks, unrecoverable on node
    loss) is made in ONE documented place — a raw .localCheckpoint(
    anywhere else reintroduces the round-12 pattern of 55 undocumented
    call sites."""
    offenders = []
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        if "__pycache__" in root:
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            if os.path.basename(path) == "materialize.py":
                continue
            src = open(path).read()
            for i, line in enumerate(src.split("\n"), 1):
                code = line.split("#", 1)[0]
                if RAW_MATERIALIZE.search(code):
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_raw_materialize_lint_pattern():
    """The lint must see method calls too: a reliable ``df.checkpoint(``
    in the engine bypasses the mode switch just like a local one."""
    for raw in ("df.localCheckpoint(eager=False)", "df.checkpoint(eager=True)",
                "checkpoint(df)"):
        assert RAW_MATERIALIZE.search(raw), raw
    for ok in ("loop_checkpoint(df)", "df.transform(loop_checkpoint_lazy)",
               "spark.sparkContext.setCheckpointDir(d)"):
        assert not RAW_MATERIALIZE.search(ok), ok


REPO = os.path.join(os.path.dirname(__file__), "..")

#: Top-level engine functions that no non-test code calls, kept on
#: purpose; the reason says who the caller is.
UNREACHED_OK = {
    "console_sink": "reference sink K1 (WindowTest.scala:76-79), for user programs",
    "kafka_sink": "reference sink K2 (KafkaSinkTest.scala:39-44), for user programs",
    "client_foreach_sink": "reference sinks K3/K4 (Redis/ES per-partition client)",
    "kafka_topic": "reference source S5 (Kafka), for user programs",
    "socket_lines": "reference source S3 (StreamWordCount.scala:25)",
    "rising_alarm_ptime_tws": "the reference's literal wall-clock alarm "
    "(ProcessAlarmTest.scala:90-100); the catalog runs the event-time twin",
    "export_training_corpus": "export.py API, for user programs",
    "export_versioned": "export.py API, for user programs",
    "read_snapshot": "export.py API, for user programs",
    "vacuum_exports": "export.py API, for user programs",
    "read_committed": "jsonl_sink's manifest-honoring reader, for user programs",
    "order_row": "the reference order model the generator tests compare against",
    "register_views": "SQL API path: every table as a temp view",
    "real_decode_available": "pre-flight probe for extract_features(decoder='real')",
}


def _non_test_sources() -> list[str]:
    """The engine itself, the benches, the driver entry, tools/ and
    perfbench/."""
    pats = ("flink_scala_spark/**/*.py", "bench*.py", "__spark_entry__.py",
            "tools/**/*.py", "perfbench/**/*.py")
    return sorted(
        p for pat in pats for p in glob.glob(os.path.join(REPO, pat), recursive=True)
    )


def test_every_engine_def_is_reachable():
    """Every top-level, undecorated engine function is referenced (as a
    name or an attribute) from non-test code outside its own body, or
    is on UNREACHED_OK. Docstrings are strings, so a mention there does
    not count; f-string expressions are parsed, so a call there does."""
    engine = os.path.abspath(ENGINE_ROOT)
    defs: dict[str, str] = {}
    refs: set[str] = set()
    for path in _non_test_sources():
        tree = ast.parse(open(path).read(), path)
        for top in tree.body:
            own = None
            if (
                os.path.abspath(path).startswith(engine)
                and isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not top.decorator_list
            ):
                own = top.name
                defs[own] = f"{os.path.relpath(path, REPO)}:{top.lineno}"
            for node in ast.walk(top):
                if isinstance(node, ast.Name):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                else:
                    continue
                if name != own:
                    refs.add(name)
    unreached = {n: where for n, where in defs.items() if n not in refs}
    offenders = {n: where for n, where in unreached.items() if n not in UNREACHED_OK}
    assert not offenders, offenders
    # an allowlist entry whose def became reachable or was deleted goes
    assert sorted(set(UNREACHED_OK) - set(unreached)) == []


def test_shared_bounded_persist_mode_same_rows(spark, sf_dir, monkeypatch):
    """persist mode must return identical rows (it only changes the
    storage/lineage trade) and actually persist instead of
    checkpointing."""
    from pyspark import StorageLevel

    from flink_scala_spark import tables

    df = (
        tables.load(spark, sf_dir, "events")
        .groupBy("event_type")
        .count()
    )
    expected = sorted(map(tuple, df.collect()))

    monkeypatch.setenv("SPARK_GRAFT_SHARED_BOUNDED", "persist")
    out = materialize.shared_bounded(df)
    assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert sorted(map(tuple, out.collect())) == expected
    out.unpersist()

    monkeypatch.delenv("SPARK_GRAFT_SHARED_BOUNDED")
    out2 = materialize.shared_bounded(df)
    assert sorted(map(tuple, out2.collect())) == expected


def test_invalid_mode_fails_loudly(monkeypatch):
    """A typo'd env value silently running the local default on a
    cluster would defeat the knob — it must raise."""
    monkeypatch.setenv("SPARK_GRAFT_SHARED_BOUNDED", "presist")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHARED_BOUNDED"):
        materialize._mode("SPARK_GRAFT_SHARED_BOUNDED", materialize._SHARED_MODES)


def test_loop_checkpoint_reliable_mode(spark, sf_dir, tmp_path, monkeypatch):
    """reliable mode routes through DataFrame.checkpoint (lineage cut
    to the configured checkpoint dir) with identical rows."""
    from flink_scala_spark import tables

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    df = tables.load(spark, sf_dir, "events").groupBy("event_type").count()
    expected = sorted(map(tuple, df.collect()))

    monkeypatch.setenv("SPARK_GRAFT_LOOP_CHECKPOINT", "reliable")
    out = materialize.loop_checkpoint(df)
    assert sorted(map(tuple, out.collect())) == expected
    assert os.listdir(str(tmp_path / "ckpt")), "no reliable checkpoint written"


def test_bpe_loop_state_is_not_persisted(spark, sf_dir, monkeypatch):
    """The BPE training vocabulary is LOOP state: it must go through
    loop_checkpoint_lazy, so persist mode for bounded frames neither
    changes the merges nor leaves one cached frame per iteration (with
    an uncut lineage) behind."""
    from flink_scala_spark.queries.catalog import QUERIES

    bpe = QUERIES["bpe_merges"].fn
    expected = sorted(map(tuple, bpe(spark, sf_dir).collect()))
    assert expected

    spark.catalog.clearCache()
    monkeypatch.setenv("SPARK_GRAFT_SHARED_BOUNDED", "persist")
    assert sorted(map(tuple, bpe(spark, sf_dir).collect())) == expected
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
