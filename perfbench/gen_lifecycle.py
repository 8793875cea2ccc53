"""Seeded inputs for the CLI lifecycle, with the truth each step must reproduce.

Writes, under one directory:

* ``biosample.xml`` — a BioSampleSet export. Some samples carry no SRA
  id (the ingest skips them), some repeat a tag key (last one wins),
  some values are upper-case (stored lower-cased) or empty (skipped).
* ``efetch/`` — one EXPERIMENT_PACKAGE per sample, served back per
  eUtils batch by ``EFetchStub``. Some samples have no run (not
  updated), some several runs.
* ``projects/<PRJ>/summary.tsv`` — DADA2 read-tracking summaries
  planting a save, re_run or discard QC decision per project.
* ``projects/<PRJ>/ASVs_counts.tsv``, ``ASVs.fa``, ``ASVs_taxonomy.tsv``
  for saved projects: a wide count matrix and amplicons cut from one
  16S region pair per project.

``Truth`` holds every number the lifecycle's outputs are checked against.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from compendium_spark.pipeline.amplicon import WHOLE_16S

TAXON = "txid408170"
# (start, end) slice of WHOLE_16S and the region string inference yields
AMPLICONS = {
    "v4": (576, 682),
    "v3-v4": (433, 682),
    "v4-v5": (576, 879),
}
# planted QC decisions, cycled over the projects; re_run and discard
# projects cost one runit and one QC each, a saved one also a load-results
DECISIONS = ("re_run", "discard", "save")
TAG_KEYS = ("host", "env_biome", "geo_loc_name", "collection_date", "isolation_source", "sex")
_SUFFIX = "_1.fastq"  # 8 characters, stripped by read_summary


@dataclass
class Truth:
    samples_saved: int = 0
    tag_rows: int = 0
    samples_updated: int = 0
    decisions: dict[str, str] = field(default_factory=dict)
    count_cells: dict[str, int] = field(default_factory=dict)
    n_sequences: dict[str, int] = field(default_factory=dict)
    regions: dict[str, str] = field(default_factory=dict)
    status_freq: dict[str, int] = field(default_factory=dict)
    n_projects: int = 0
    n_result_samples: int = 0
    n_asvs: int = 0
    eligible: dict[str, int] = field(default_factory=dict)


@dataclass(frozen=True)
class LifecycleSize:
    samples: int = 600
    projects: int = 4
    asvs_per_project: int = 3


def _summary_rows(rng, runs: list[str], decision: str) -> str:
    lines = ["\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim"]
    for srr in runs:
        dinput = int(rng.integers(20_000, 90_000))
        forwd = int(dinput * rng.uniform(0.93, 0.97))
        merged_frac = rng.uniform(0.3, 0.5) if decision == "re_run" else rng.uniform(0.9, 0.97)
        kept_frac = rng.uniform(0.3, 0.5) if decision == "discard" else rng.uniform(0.85, 0.92)
        nonchim = int(dinput * kept_frac)
        length = int(nonchim / rng.uniform(0.95, 0.99))
        merged = int(forwd * merged_frac)
        lines.append(
            f"{srr}{_SUFFIX}\t{dinput}\t{int(dinput * 0.98)}\t{forwd}\t{forwd - 5}"
            f"\t{merged}\t{length}\t{nonchim}"
        )
    return "\n".join(lines) + "\n"


def generate(out: Path, seed: int, size: LifecycleSize = LifecycleSize()) -> Truth:
    rng = np.random.default_rng([seed, 1])
    truth = Truth()
    out.mkdir(parents=True, exist_ok=True)
    (out / "efetch").mkdir(exist_ok=True)
    projects = [f"PRJNA{100000 + i}" for i in range(size.projects)]
    decisions = [DECISIONS[i % 3] for i in range(size.projects)]
    rng.shuffle(decisions)
    regions = list(AMPLICONS)

    xml = ['<?xml version="1.0"?>', "<BioSampleSet>"]
    packages: list[str] = []
    runs_by_project: dict[str, list[str]] = {p: [] for p in projects}
    eligible = dict.fromkeys(projects, 0)
    run_no = 0
    for i in range(size.samples):
        srs = f"SRS{1000000 + i}"
        has_sra = rng.random() > 0.05
        ids = f'<Id db="BioSample">SAMN{2000000 + i}</Id>'
        if has_sra:
            ids += f'<Id db="SRA">{srs}</Id>'
        attrs, keys = [], set()
        for key in rng.choice(TAG_KEYS, int(rng.integers(2, 6)), replace=False):
            value = f"Val{int(rng.integers(0, 50))}"
            attrs.append(f'<Attribute harmonized_name="{key}">{value}</Attribute>')
            keys.add(key)
        if rng.random() < 0.2:  # duplicate key: the later value wins, one row
            key = next(iter(sorted(keys)))
            attrs.append(f'<Attribute harmonized_name="{key}">LATER</Attribute>')
        if rng.random() < 0.2:  # attribute_name-only key
            attrs.append('<Attribute attribute_name="lab_note">Raw</Attribute>')
            keys.add("lab_note")
        if rng.random() < 0.1:  # empty value: skipped
            attrs.append('<Attribute harmonized_name="empty_tag"></Attribute>')
        xml.append(
            f"<BioSample><Ids>{ids}</Ids><Attributes>{''.join(attrs)}</Attributes></BioSample>"
        )
        if not has_sra:
            continue
        truth.samples_saved += 1
        truth.tag_rows += len(keys)
        project = projects[truth.samples_saved % size.projects]
        n_runs = int(rng.choice([0, 1, 1, 1, 1, 1, 1, 2]))
        run_ids = [f"SRR{5000000 + run_no + k}" for k in range(n_runs)]
        run_no += n_runs
        strategy = "AMPLICON" if rng.random() < 0.9 else "WGS"
        source = "GENOMIC" if rng.random() < 0.5 else "METAGENOMIC"
        runs_xml = "".join(
            f'<RUN accession="{r}" published="2020-0{1 + k}-15 10:00:00" total_bases="{1000 + k}"/>'
            for k, r in enumerate(run_ids)
        )
        packages.append(
            f'<EXPERIMENT_PACKAGE><SAMPLE accession="{srs}"/>{runs_xml}'
            f'<EXTERNAL_ID namespace="BioProject">{project}</EXTERNAL_ID>'
            f"<LIBRARY_STRATEGY>{strategy}</LIBRARY_STRATEGY>"
            f"<LIBRARY_SOURCE>{source}</LIBRARY_SOURCE>"
            "<INSTRUMENT_MODEL>Illumina MiSeq</INSTRUMENT_MODEL></EXPERIMENT_PACKAGE>"
        )
        if run_ids:
            truth.samples_updated += 1
            runs_by_project[project].extend(run_ids)
            if strategy == "AMPLICON":
                eligible[project] += 1
    xml.append("</BioSampleSet>")
    (out / "biosample.xml").write_text("\n".join(xml) + "\n")
    (out / "efetch" / "packages.xml").write_text("\n".join(packages) + "\n")

    status = {"failed": 0, "to_re_run": 0, "complete": 0}
    result_samples: set[str] = set()
    result_asvs: set[str] = set()
    for p, decision, k in zip(projects, decisions, range(size.projects)):
        d = out / "projects" / p
        d.mkdir(parents=True, exist_ok=True)
        runs = runs_by_project[p]
        if not runs:
            raise ValueError(f"lifecycle size leaves project {p} without runs")
        (d / "summary.tsv").write_text(_summary_rows(rng, runs, decision))
        truth.decisions[p] = decision
        status[{"save": "complete", "re_run": "to_re_run", "discard": "failed"}[decision]] += 1
        if decision != "save":
            continue
        region = regions[k % len(regions)]
        lo, hi = AMPLICONS[region]
        asvs = [f"ASV_{j + 1}" for j in range(size.asvs_per_project)]
        fasta = []
        for a in asvs:
            # start 1-3 bases before the region, end up to 3 bases short of
            # it: region classification uses strict inequalities
            # (amplicon.find_region), so an amplicon starting exactly on a
            # boundary is classified into the next region
            s = lo - int(rng.integers(1, 4))
            e = hi - int(rng.integers(0, 4))
            fasta.append(f">{a}\n{WHOLE_16S[s:e]}")
        (d / "ASVs.fa").write_text("\n".join(fasta) + "\n")
        counts = rng.integers(0, 40, (len(asvs), len(runs)))
        counts[rng.random(counts.shape) < 0.5] = 0
        rows = ["\t" + "\t".join(runs)]
        rows += [a + "\t" + "\t".join(map(str, c)) for a, c in zip(asvs, counts)]
        (d / "ASVs_counts.tsv").write_text("\n".join(rows) + "\n")
        tax = ["\tKingdom\tPhylum\tClass\tOrder\tFamily\tGenus"]
        tax += [f"{a}\tBacteria\tFirmicutes\tBacilli\tLactobacillales\tF{j % 3}\tG{j}" for j, a in enumerate(asvs)]
        (d / "ASVs_taxonomy.tsv").write_text("\n".join(tax) + "\n")
        truth.count_cells[p] = int((counts != 0).sum())
        truth.n_sequences[p] = len(asvs)
        truth.regions[p] = region
        result_samples.update(r for r, col in zip(runs, counts.T) if col.any())
        result_asvs.update(a for a, row in zip(asvs, counts) if row.any())
    truth.status_freq = {k: v for k, v in status.items() if v}
    truth.n_projects = len(projects)
    truth.n_result_samples = len(result_samples)
    truth.n_asvs = len(result_asvs)
    truth.eligible = {p: n for p, n in eligible.items() if n}
    return truth


_ACCN = re.compile(r"(SRS\d+)\[accn\]")


class EFetchStub:
    """``fetch(url) -> EFetch XML`` answering each ESearch batch URL with
    only the packages of the accessions it names."""

    def __init__(self, efetch_dir: Path):
        self.by_srs: dict[str, str] = {}
        for line in (efetch_dir / "packages.xml").read_text().splitlines():
            m = re.search(r'<SAMPLE accession="(SRS\d+)"', line)
            if m:
                self.by_srs[m.group(1)] = line
        self.calls = 0
        self.bytes_out = 0

    def __call__(self, url: str) -> str:
        self.calls += 1
        body = "".join(self.by_srs.get(a, "") for a in _ACCN.findall(url))
        text = f"<EXPERIMENT_PACKAGE_SET>{body}</EXPERIMENT_PACKAGE_SET>"
        self.bytes_out += len(text)
        return text
