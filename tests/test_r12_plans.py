"""Round-12 plans: COW DELETE + row-level change data feed — the two
Delta write-path behaviors the versioned warehouse still lacked. Their
oracle parity at sf0.1 and rerun idempotency are rows of the parity
matrix in tests/test_parity.py; this file pins what the value hash
can't express (pruned rewrite set, carry-by-reference, diff-only CDF
reads)."""

from __future__ import annotations

from .conftest import SF_ORACLE


def _reopen_vwh(spark, plan_workdir):
    import os
    import tempfile
    from pathlib import Path

    from compendium_spark.storage_versioned import VersionedWarehouse

    root = (
        Path(tempfile.gettempdir())
        / f"compendium_spark_sinks_{os.getuid()}"
        / plan_workdir
        / "vwh"
    )
    return VersionedWarehouse(spark, str(root))


def test_delete_rewrites_only_pruned_candidates(spark):
    """The hash parity proves content; this pins the I/O shape: the
    delete's removed files all sit in the partitions holding the
    deleted keys, and the untouched partition's files are carried
    PATH-IDENTICALLY (never rewritten)."""
    from compendium_spark.plans.sinks import sink_delete_roundtrip

    sink_delete_roundtrip(spark, SF_ORACLE).collect()
    vwh = _reopen_vwh(spark, "delete")
    m0, m1 = vwh.manifest("samples", 0), vwh.manifest("samples", 1)
    assert m1["op"] == "delete"
    added, removed = vwh.diff("samples", 0, 1)
    # SRS2 lives in txidA, SRS5 in txidB: every rewritten file is there
    assert removed and all(
        "taxon=txidA" in f or "taxon=txidB" in f for f in added + removed
    )
    # txidC (no deleted key) carried by reference
    c0 = {f for f in m0["files"] if "taxon=txidC" in f}
    c1 = {f for f in m1["files"] if "taxon=txidC" in f}
    assert c0 == c1 and c0
    # pre-delete snapshot still time-travels with the deleted rows
    assert {r.srs for r in vwh.read("samples", 0).collect()} >= {
        "SRS2",
        "SRS5",
    }


def test_delete_null_predicate_keeps_row(spark, tmp_path):
    """SQL DELETE semantics: a NULL-evaluating predicate KEEPS the row
    (only TRUE deletes). A probe on a nullable column must not sweep
    the null rows away."""
    from compendium_spark.schemas import SAMPLES
    from compendium_spark.storage_versioned import VersionedWarehouse

    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write(
        "samples",
        spark.createDataFrame(
            [
                ("SRS1", "P", "txidA", None, "WGS", None, None, None, None, None),
                ("SRS2", "P", "txidA", None, None, None, None, None, None, None),
            ],
            SAMPLES,
        ),
    )
    vwh.delete("samples", [("library_strategy", "=", "WGS")])
    left = {r.srs for r in vwh.read("samples").collect()}
    assert left == {"SRS2"}  # the NULL-strategy row survived


def test_delete_noop_commits_nothing(spark, tmp_path):
    """A predicate the stats/hints prove can match nothing commits no
    new version (the no-op merge precedent)."""
    from compendium_spark.schemas import SAMPLES
    from compendium_spark.storage_versioned import VersionedWarehouse

    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write(
        "samples",
        spark.createDataFrame(
            [("SRS1", "P", "txidA", None, None, None, None, None, None, None)],
            SAMPLES,
        ),
    )
    v = vwh.delete("samples", [("srs", "=", "NOPE")])
    assert v == 0
    assert vwh.versions("samples") == [0]


def test_cdf_reads_only_the_diff(spark):
    """Scale pin: table_changes' plan reads the manifest diff's files,
    never the carried ones — rows untouched between versions cannot
    appear in the feed even as join inputs."""
    from compendium_spark.plans.sinks import sink_cdf_roundtrip

    sink_cdf_roundtrip(spark, SF_ORACLE).collect()
    vwh = _reopen_vwh(spark, "cdf")
    feed = vwh.table_changes("samples", 0, 1, "srs")
    scanned = {f.rsplit("/", 1)[-1] for f in feed.inputFiles()}
    added, removed = vwh.diff("samples", 0, 1)
    diff_names = {f.rsplit("/", 1)[-1] for f in added + removed}
    assert scanned <= diff_names
    # SRS1 (carried, untouched) never surfaces
    assert "SRS1" not in {r.srs for r in feed.collect()}


def test_cdf_compaction_is_silent(spark, tmp_path):
    """A compaction rewrites rows UNCHANGED: the feed between the
    pre- and post-compaction snapshots must be empty (the null-safe
    column comparison cancels rewritten-identical rows)."""
    from compendium_spark.schemas import SAMPLES
    from compendium_spark.storage_versioned import VersionedWarehouse

    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))

    def one(rows):
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), SAMPLES
        )

    rows = [
        ("SRS1", "P", "txidA", None, None, None, None, None, None, None),
        ("SRS2", "P", "txidA", None, None, None, None, None, None, None),
    ]
    vwh.write("samples", one(rows[:1]))
    vwh.append("samples", one(rows[1:]))
    v = vwh.compact("samples")
    assert v == 2  # txidA's two files packed into one
    assert vwh.table_changes("samples", 1, 2, "srs").count() == 0


def test_ivm_matches_from_scratch_aggregates(spark):
    """The incrementally maintained MV equals a from-scratch aggregate
    of each snapshot — the IVM invariant the VALUES oracle states but
    this derives independently from the same warehouse."""
    from compendium_spark.plans.sinks import mv_cdf_incremental

    got = {
        (r.version, r.taxon): r.n_rows
        for r in mv_cdf_incremental(spark, SF_ORACLE).collect()
    }
    vwh = _reopen_vwh(spark, "ivm")
    for v in vwh.versions("samples"):
        scratch = {
            (v, r.taxon): r.n
            for r in vwh.read("samples", v)
            .groupBy("taxon")
            .agg({"*": "count"})
            .withColumnRenamed("count(1)", "n")
            .collect()
        }
        assert {k: n for k, n in got.items() if k[0] == v} == scratch, v


def test_bpe_chain_equals_canonical_bpe(spark):
    """The delimited replace() chain text_bpe_apply runs scan-side must
    EQUAL canonical iterative BPE (merge (a,b) greedily left-to-right,
    one merge at a time, in priority order) on every corpus vocabulary
    word — the divergence class is adjacent repeated pairs; this pin
    flags it if the corpus or merge table ever changes."""
    from compendium_spark.plans.text import _BPE_SEP, BPE_MERGES
    from compendium_spark.tables import load

    def true_bpe(word):
        syms = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    def chain(word):
        s = _BPE_SEP + _BPE_SEP.join(word) + _BPE_SEP
        for a, b in BPE_MERGES:
            s = s.replace(
                f"{_BPE_SEP}{a}{_BPE_SEP}{b}{_BPE_SEP}",
                f"{_BPE_SEP}{a}{b}{_BPE_SEP}",
            )
        return [t for t in s.split(_BPE_SEP) if t]

    import pyspark.sql.functions as F

    vocab = [
        r.w
        for r in load(spark, SF_ORACLE, "documents")
        .select(
            F.explode(F.split(F.trim(F.lower("text")), " +")).alias("w")
        )
        .distinct()
        .collect()
    ]
    assert vocab
    diverged = [w for w in vocab if true_bpe(w) != chain(w)]
    assert not diverged, diverged
    # multi-level merges fire (a merged symbol feeds a later merge)
    assert "ine" in true_bpe("line")


def test_cdf_spans_schema_evolution(spark, tmp_path):
    """A feed window that crosses an add_columns commit reads BOTH
    sides under the newer schema (pre-side files fill the added column
    as NULL), so a later backfill of that column reports as updates —
    never a missing-column error."""
    from pyspark.sql import types as T

    from compendium_spark.schemas import SAMPLES
    from compendium_spark.storage_versioned import VersionedWarehouse

    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write(
        "samples",
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [("SRS1", "P", "txidA", None, None, None, None, None, None, None)], 1
            ),
            SAMPLES,
        ),
    )
    vwh.add_columns("samples", T.StructField("note", T.StringType(), True))
    vwh.partial_update(
        "samples",
        spark.createDataFrame([("SRS1", "hello")], "srs string, note string"),
        key="srs",
    )
    # window crossing the evolution: v0 (old schema) -> v2 (backfilled)
    feed = vwh.table_changes("samples", 0, 2, "srs")
    got = {(r._change_type, r.srs, r.note) for r in feed.collect()}
    assert got == {
        ("update_preimage", "SRS1", None),
        ("update_postimage", "SRS1", "hello"),
    }
    # the metadata-only step alone is silent (files carried, no diff)
    assert vwh.table_changes("samples", 0, 1, "srs").count() == 0
