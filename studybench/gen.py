r"""Seeded study generator for the study-load benchmark.

Writes study directories in the tMDataLoader input formats the loaders
parse (FIXTURES.md §1-5):

- clinical: ``ClinicalDataToUpload/<Name>_<ID>_Mapping_File.txt`` plus
  one tab-separated data file (STUDY_ID, SUBJ_ID, numeric and
  categorical variables, some cells left empty);
- expression: ``ExpressionDataToUpload/<Name>_<ID>_Subject_Sample_
  Mapping_File.txt``, a GPL platform ``<GPL>.txt`` with ``# PLATFORM_ID``
  head meta and ``ID_REF / GENE_SYMBOL / ENTREZ_GENE_ID`` columns, and a
  wide ``<Name>_<ID>_Gene_Expression_Data_R.txt`` matrix.

Sizes are fixed per study spec; the seed only changes the values (which
cells are empty, numbers, categories), so every seed does the same
amount of work.  Alongside the files the generator returns the expected
warehouse contents, computed from what it wrote — never from a run of
the loader:

- ``facts``: non-empty generated cells + one SECURITY fact per patient
  (+ one sample fact per expression sample);
- ``patients``, ``leaves`` (concept leaf count), ``nval_sum`` (sum of
  every numeric cell, the ``nval_num`` checksum);
- ``matrix_rows``: mapped probes × samples.

Run standalone to inspect a study set:

    python3 studybench/gen.py OUT_DIR --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import random
from dataclasses import asdict, dataclass

#: parent node every benchmark study is uploaded under
PARENT_NODE = "\\Bench Studies"

SEX = ["Male", "Female", "Unknown"]
RACE = ["Caucasian", "Asian", "African", "Hispanic", "Other"]
ARM = ["Placebo", "Low Dose", "High Dose"]
SITE = ["North", "South", "East", "West"]
CATEGORICAL = [("Sex", SEX), ("Race", RACE), ("Arm", ARM), ("Site", SITE)]


@dataclass
class StudySpec:
    name: str  # display name (the ontology node under PARENT_NODE)
    study_id: str
    subjects: int
    numeric: int  # numeric lab variables
    probes: int = 0  # expression matrix rows (0 = clinical only)
    samples: int = 0  # expression matrix columns
    empty_rate: float = 0.08

    @property
    def dir_name(self) -> str:
        return f"{self.name}_{self.study_id}"

    @property
    def top_node(self) -> str:
        return f"{PARENT_NODE}\\{self.name}\\"


@dataclass
class StudyExpect:
    study_id: str
    top_node: str
    facts: int = 0
    patients: int = 0
    leaves: int = 0
    nval_sum: float = 0.0
    nval_count: int = 0
    matrix_rows: int = 0
    input_bytes: int = 0


#: one place for the workload sizes (see README.md for the sizing)
EXPRESSION_STUDY = StudySpec(
    "Bench Expression", "BEXP", subjects=60, numeric=4, probes=3000, samples=50
)


def _num(rng: random.Random, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.3f}"


def _write(path: str, lines: list[str], exp: StudyExpect) -> None:
    with open(path, "w", encoding="ascii", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
    exp.input_bytes += os.path.getsize(path)


def write_clinical(spec: StudySpec, study_dir: str, rng: random.Random) -> StudyExpect:
    """Mapping file + data file; every variable sits under one
    category so leaves are ``<top>\\<category>\\<label>\\`` (numeric)
    or ``…\\<label>\\<value>\\`` (categorical)."""
    exp = StudyExpect(spec.study_id, spec.top_node)
    d = os.path.join(study_dir, "ClinicalDataToUpload")
    os.makedirs(d, exist_ok=True)
    data_name = f"{spec.study_id}_clinical.txt"
    labels = ["Age"] + [f"Lab{i:02d}" for i in range(1, spec.numeric + 1)]
    header = ["STUDY_ID", "SUBJ_ID"] + labels + [c for c, _ in CATEGORICAL]
    mapping = ["filename\tcategory_cd\tcol_nbr\tdata_label\tdata_label_source\tcontrol_vocab_cd"]
    mapping.append(f"{data_name}\t\t1\tSTUDY_ID\t\t")
    mapping.append(f"{data_name}\t\t2\tSUBJ_ID\t\t")
    for i, label in enumerate(labels, start=3):
        cat = "Demographics" if label == "Age" else "Laboratory"
        mapping.append(f"{data_name}\t{cat}\t{i}\t{label}\t\t")
    for j, (label, _) in enumerate(CATEGORICAL, start=3 + len(labels)):
        mapping.append(f"{data_name}\tSubject_Info\t{j}\t{label}\t\t")

    rows = ["\t".join(header)]
    cat_seen: dict[str, set] = {c: set() for c, _ in CATEGORICAL}
    cells = 0
    for s in range(spec.subjects):
        row = [spec.study_id, f"S{s:05d}"]
        for label in labels:
            if rng.random() < spec.empty_rate:
                row.append("")
                continue
            v = _num(rng, 18, 90) if label == "Age" else _num(rng, 0.5, 500)
            row.append(v)
            exp.nval_sum += float(v)
            exp.nval_count += 1
            cells += 1
        for label, values in CATEGORICAL:
            if rng.random() < spec.empty_rate:
                row.append("")
                continue
            v = rng.choice(values)
            row.append(v)
            cat_seen[label].add(v)
            cells += 1
        rows.append("\t".join(row))
    # a subject whose every cell is empty gets no fact and no patient row
    patients = sum(1 for r in rows[1:] if any(c for c in r.split("\t")[2:]))
    numeric_leaves = sum(
        1 for i, _ in enumerate(labels)
        if any(r.split("\t")[2 + i] for r in rows[1:])
    )
    exp.patients = patients
    exp.leaves = numeric_leaves + sum(len(v) for v in cat_seen.values())
    exp.facts = cells + patients  # + one SECURITY fact per patient
    _write(os.path.join(d, data_name), rows, exp)
    _write(os.path.join(d, f"{spec.dir_name}_Mapping_File.txt"), mapping, exp)
    return exp


def write_expression(spec: StudySpec, study_dir: str, rng: random.Random, exp: StudyExpect) -> None:
    """Sample mapping + GPL platform + R-type matrix.  One probe in 20
    is absent from the platform, so the loader's probe filter has work;
    every intensity is positive, so the R-type log keeps every cell."""
    d = os.path.join(study_dir, "ExpressionDataToUpload")
    os.makedirs(d, exist_ok=True)
    gpl = "GPL9000"
    samples = [f"{spec.study_id}_SMP{i:04d}" for i in range(spec.samples)]
    subjects = [f"S{i % spec.subjects:05d}" for i in range(spec.samples)]
    smap = ["STUDY_ID\tSITE_ID\tSUBJECT_ID\tSAMPLE_ID\tPLATFORM\tTISSUETYPE\tATTR1\tATTR2\tCATEGORY_CD"]
    for subj, smp in zip(subjects, samples):
        smap.append(f"{spec.study_id}\t\t{subj}\t{smp}\t{gpl}\tBlood\t\t\tBiomarker_Data+PLATFORM+TISSUETYPE")
    probes = [f"PRB{i:06d}_at" for i in range(spec.probes)]
    mapped = [p for i, p in enumerate(probes) if i % 20 != 7]
    platform = [
        f"# PLATFORM_ID: {gpl}",
        "# PLATFORM_TITLE: Bench Array",
        "# SPECIES: Homo sapiens",
        "ID_REF\tGENE_SYMBOL\tENTREZ_GENE_ID",
    ]
    for i, p in enumerate(mapped):
        platform.append(f"{p}\tGENE{i % 5000}\t{100000 + i % 5000}")
    matrix = ["\t".join(["ID_REF"] + samples)]
    for p in probes:
        base = rng.uniform(20, 2000)
        matrix.append(
            "\t".join([p] + [f"{base * rng.lognormvariate(0, 0.4):.4f}" for _ in samples])
        )
    _write(os.path.join(d, f"{spec.dir_name}_Subject_Sample_Mapping_File.txt"), smap, exp)
    _write(os.path.join(d, f"{gpl}.txt"), platform, exp)
    _write(os.path.join(d, f"{spec.dir_name}_Gene_Expression_Data_R.txt"), matrix, exp)
    exp.matrix_rows = len(mapped) * len(samples)
    exp.facts += len(samples)  # one sample fact per assay
    exp.leaves += 1  # the sample concept Biomarker Data\\<title>\\Blood
    # samples cycle over the clinical subjects, so patients stay the
    # clinical set


def write_study(spec: StudySpec, root: str, seed: int) -> StudyExpect:
    rng = random.Random(f"{seed}:{spec.study_id}")
    study_dir = os.path.join(root, spec.dir_name)
    exp = write_clinical(spec, study_dir, rng)
    if spec.probes:
        write_expression(spec, study_dir, rng, exp)
    return exp


def generate(root: str, specs: list[StudySpec], seed: int) -> dict[str, StudyExpect]:
    """Write each spec as a study directory under ``root``."""
    os.makedirs(root, exist_ok=True)
    return {s.study_id: write_study(s, root, seed) for s in specs}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    out = generate(args.out_dir, [EXPRESSION_STUDY], args.seed)
    print(json.dumps({k: asdict(v) for k, v in out.items()}, indent=1))


if __name__ == "__main__":
    main()
