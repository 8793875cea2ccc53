"""Generated inputs are a pure function of the seed."""

from __future__ import annotations

import hashlib
from pathlib import Path

from perfbench.gen_lifecycle import EFetchStub, LifecycleSize, generate
from perfbench.gen_tables import write_tables


def _tree_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def test_tables_same_seed_byte_identical(tmp_path):
    write_tables(tmp_path / "a", 11, 0.02)
    write_tables(tmp_path / "b", 11, 0.02)
    write_tables(tmp_path / "c", 12, 0.02)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")


SMALL = LifecycleSize(samples=120, projects=3, asvs_per_project=2)


def test_lifecycle_same_seed_byte_identical(tmp_path):
    ta = generate(tmp_path / "a", 5, SMALL)
    tb = generate(tmp_path / "b", 5, SMALL)
    tc = generate(tmp_path / "c", 6, SMALL)
    assert _tree_digest(tmp_path / "a") == _tree_digest(tmp_path / "b")
    assert ta == tb
    assert _tree_digest(tmp_path / "a") != _tree_digest(tmp_path / "c")
    assert tc != ta


def test_lifecycle_plants_every_decision_and_edge_case(tmp_path):
    truth = generate(tmp_path, 5, SMALL)
    assert sorted(truth.decisions.values()) == ["discard", "re_run", "save"]
    xml = (tmp_path / "biosample.xml").read_text()
    assert xml.count("<BioSample>") == SMALL.samples
    assert truth.samples_saved < SMALL.samples  # some samples carry no SRA id
    assert "LATER" in xml  # a repeated tag key
    assert truth.samples_updated < truth.samples_saved  # some samples have no run


def test_efetch_stub_answers_only_the_batch(tmp_path):
    generate(tmp_path, 5, SMALL)
    stub = EFetchStub(tmp_path / "efetch")
    some = sorted(stub.by_srs)[:2]
    body = stub(f"https://x/esearch?term={some[0]}[accn] or {some[1]}[accn]")
    assert body.count("<EXPERIMENT_PACKAGE>") == 2
    assert all(s in body for s in some)


def test_planted_amplicons_classify_into_their_region():
    from compendium_spark.pipeline.amplicon import WHOLE_16S, process_project

    from perfbench.gen_lifecycle import AMPLICONS

    for region, (lo, hi) in AMPLICONS.items():
        for d1 in (1, 2, 3):
            for d2 in (0, 1, 2, 3):
                assert process_project([WHOLE_16S[lo - d1 : hi - d2]])[0] == region
