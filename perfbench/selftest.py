"""Self-tests of the benchmark's own machinery (run with
`python3 perfbench/run.py --selftest`):

  1. the generator writes identical inputs for the same seed and
     different inputs for a different seed, for both workloads;
  2. the output checks pass on a real job's output and catch a
     corrupted copy of it: one perturbed `pti`, one dropped graph, one
     extra dedup survivor.

Exits 0 when every expectation holds.
"""

import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import build
import check
import gen
import run

WORKLOADS = ("match_pipeline", "corpus_dedup")


def generator_determinism(scratch):
    ok = True
    for w in WORKLOADS:
        digests, props = [], []
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            root = os.path.join(scratch, f"{w}-{name}")
            props.append(gen.generate(w, seed, root, 2)[1])
            digests.append(gen.tree_digest(root))
        same, differs = digests[0] == digests[1], digests[0] != digests[2]
        print(f"generator {w}: same seed identical: {same}; other seed differs: {differs}; "
              f"seed 7 inputs {props[0]}")
        ok &= same and differs
    return ok


def rewrite(src_out, dst_out, table, edit):
    """Copies a job's output directory, replacing output `table` by
    `edit` applied to its rows (written back as one parquet file)."""
    shutil.copytree(src_out, dst_out)
    df = check.read(os.path.join(src_out, table))
    shutil.rmtree(os.path.join(dst_out, table))
    os.makedirs(os.path.join(dst_out, table))
    df = edit(df.copy())
    if "game_id" in df:
        df["game_id"] = df["game_id"].astype(str)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(dst_out, table, "part-0.parquet"))


def perturb_pti(df):
    m = np.stack(df.at[0, "probability_to_intercept"]).copy()
    m[0, 0] += 1e-3
    df.at[0, "probability_to_intercept"] = list(m)
    return df


def extra_survivor(truth):
    def edit(df):
        ids = truth["docs"].doc_id
        good = truth["kinds"] == "good"
        dropped = sorted(set(ids[good]) - truth["survivors"])[0]
        text = truth["docs"].set_index("doc_id").text[dropped]
        row = {"doc_id": dropped, "chunk_idx": 0, "n_tokens": len(text.split()),
               "chunk_text": text}
        return pd.concat([df, pd.DataFrame([row])], ignore_index=True)
    return edit


def corruption_detection(scratch):
    ok = True
    corruptions = {
        "match_pipeline": [("perturbed pti", "pi", lambda t: perturb_pti),
                           ("dropped graph", "graphs", lambda t: lambda df: df.iloc[1:])],
        "corpus_dedup": [("extra survivor", "chunks", extra_survivor)],
    }
    for w in WORKLOADS:
        result, truths = run.run(w, 5, 1, 0, keep=True)
        job = result["jobs"][0]
        truth = truths[int(job["slice"][1:])]
        errors = check.CHECKS[w](truth, job["out"])
        print(f"check {w}: real output passes: {not errors} {errors[:2]}")
        ok &= not errors
        for label, table, make in corruptions[w]:
            bad = os.path.join(scratch, f"{w}-{table}")
            rewrite(job["out"], bad, table, make(truth))
            caught = check.CHECKS[w](truth, bad)
            print(f"check {w}: {label} caught: {bool(caught)} {caught[:1]}")
            ok &= bool(caught)
        shutil.rmtree(os.path.dirname(os.path.dirname(job["out"])), ignore_errors=True)
    return ok


def main():
    build.build()
    os.makedirs(build.BUILD, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=build.BUILD)
    try:
        ok = generator_determinism(scratch)
        ok &= corruption_detection(scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1
