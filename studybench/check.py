"""Output checks of a benchmark run's warehouse, against the generator's
expectations (gen.StudyExpect) — never against an earlier run.

Reads the parquet warehouse with pyarrow, so checking starts no JVM.
Each check returns a list of failure messages (empty = passed).
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.dataset as ds

CLAMP = 2.5
MATRIX = os.path.join("deapp", "de_subject_expression_data")


def _table(wh: str, name: str, columns: list[str]):
    path = os.path.join(wh, name + ".parquet")
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet").to_table(columns=columns)


def row_counts(wh: str) -> dict[str, int]:
    """observation_fact and omics-matrix rows in the warehouse."""
    out = {}
    for name in ["observation_fact", MATRIX]:
        path = os.path.join(wh, name + ".parquet")
        out[name] = ds.dataset(path, format="parquet").count_rows() if os.path.isdir(path) else 0
    return out


def check_study(wh: str, exp, top_node: str | None = None) -> list[str]:
    """A loaded study: facts = generated non-empty cells + one SECURITY
    fact per patient (+ one sample fact per assay); distinct patients;
    concept leaves under its node; the nval_num checksum; matrix rows =
    mapped probes × samples with every |zscore| ≤ 2.5."""
    errs: list[str] = []
    sid = exp["study_id"]
    node = top_node or exp["top_node"]
    of = _table(wh, "observation_fact", ["patient_num", "nval_num", "sourcesystem_cd"])
    facts = of.filter(pc.equal(of["sourcesystem_cd"], sid))
    if facts.num_rows != exp["facts"]:
        errs.append(f"{sid}: {facts.num_rows} facts, expected {exp['facts']}")
    patients = len(pc.unique(facts["patient_num"]))
    if patients != exp["patients"]:
        errs.append(f"{sid}: {patients} patients with facts, expected {exp['patients']}")
    pd = _table(wh, "patient_dimension", ["patient_num", "sourcesystem_cd"])
    pd = pd.filter(pc.starts_with(pd["sourcesystem_cd"], sid + ":"))
    if len(pc.unique(pd["patient_num"])) != exp["patients"]:
        errs.append(f"{sid}: patient_dimension has {len(pc.unique(pd['patient_num']))} patients")
    n = pc.count(facts["nval_num"]).as_py()
    total = pc.sum(facts["nval_num"]).as_py() or 0.0
    if n != exp["nval_count"] or abs(total - exp["nval_sum"]) > 1e-9 * max(1.0, abs(exp["nval_sum"])):
        errs.append(f"{sid}: nval_num count/sum {n}/{total}, expected "
                    f"{exp['nval_count']}/{exp['nval_sum']}")
    i2b2 = _table(wh, "i2b2", ["c_fullname", "c_visualattributes"])
    sub = i2b2.filter(pc.starts_with(i2b2["c_fullname"], node))
    leaves = pc.sum(pc.starts_with(sub["c_visualattributes"], "L")).as_py() or 0
    if leaves != exp["leaves"]:
        errs.append(f"{sid}: {leaves} concept leaves under {node}, expected {exp['leaves']}")
    if exp["matrix_rows"]:
        de = _table(wh, MATRIX, ["trial_name", "zscore"])
        de = de.filter(pc.equal(de["trial_name"], sid)) if de is not None else None
        rows = de.num_rows if de is not None else 0
        if rows != exp["matrix_rows"]:
            errs.append(f"{sid}: {rows} matrix rows, expected {exp['matrix_rows']}")
        elif rows and pc.max(pc.abs(de["zscore"])).as_py() > CLAMP:
            errs.append(f"{sid}: |zscore| above {CLAMP}")
    return errs


def check_moved(wh: str, sid: str, old_node: str, new_node: str) -> list[str]:
    """Every node and fact path of the moved study is under the new
    prefix and none is left under the old one."""
    errs = []
    i2b2 = _table(wh, "i2b2", ["c_fullname", "sourcesystem_cd"])
    mine = i2b2.filter(pc.equal(i2b2["sourcesystem_cd"], sid))
    if not mine.num_rows:
        errs.append(f"i2b2: no nodes of moved {sid}")
    elif pc.sum(pc.invert(pc.starts_with(mine["c_fullname"], new_node))).as_py():
        errs.append(f"i2b2: nodes of {sid} outside {new_node}")
    if pc.sum(pc.starts_with(i2b2["c_fullname"], old_node)).as_py():
        errs.append(f"i2b2: nodes left under {old_node}")
    of = _table(wh, "observation_fact", ["concept_path", "sourcesystem_cd"])
    paths = of.filter(pc.equal(of["sourcesystem_cd"], sid))["concept_path"].drop_null()
    if not len(paths) or pc.sum(pc.invert(pc.starts_with(paths, new_node))).as_py():
        errs.append(f"observation_fact: concept paths of {sid} not under {new_node}")
    return errs
