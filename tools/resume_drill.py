"""Checkpoint-resume drill for the curation funnel at scale.

Round-3 verdict task 5: the closest sandbox analog of the 100 TB
operational story — run the full dedup funnel (scrub -> quality gate
-> minhash-LSH pairs -> connected-components canonical keep ->
decontamination -> hash split) over a synthetic corpus through
CheckpointedPipeline, KILL the driver mid-pipeline (after a stage
commits, with a truncated partial write poisoning the next stage's
directory), restart, and assert the resumed run (a) skips every
committed stage, (b) overwrites the poisoned partial, and (c) lands on
EXACTLY the uninterrupted run's split counts.

Usage:
  python tools/resume_drill.py --drill [--docs N]     # full drill
  python tools/resume_drill.py --root D [--crash-stage S] [--docs N]
                                                      # one worker run

The worker exits 17 at the crash point (a deterministic stand-in for
OOM-kill/preemption); --drill orchestrates worker subprocesses so the
kill is a REAL process death, not an in-process exception.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ["corpus", "scrub", "gate", "pairs", "groups", "decon", "split"]


def synth_docs(spark, n: int, parts: int):
    """Deterministic expression-only corpus: ~40 tokens per doc;
    id%7==1 docs clone their predecessor (the near-dup load for
    LSH/CC); id%5==0 docs carry an email-shaped span (scrub load).

    The token modulus is a large prime (NOT the 50k vocabulary of
    bench.py's shuffle probe): with a small modulus, ids congruent
    mod the modulus become exact text clones, and the pair count
    grows as C(n/modulus, 2) * modulus — quadratic in n (~1B pairs at
    10M docs).  A >n*40 modulus keeps near-dup pairs to exactly the
    intended clones, so the drill scales linearly."""
    from pyspark.sql import functions as F

    base = spark.range(n, numPartitions=parts)
    body = F.expr(
        "array_join(transform(sequence(0, 39), j -> concat('t', "
        "pmod((id - (case when id % 7 = 1 then 1 else 0 end)) "
        "* (j + 7) + j * j, 999999937))), ' ')"
    )
    text = F.when(
        F.col("id") % 5 == 0,
        F.concat(body, F.lit(" mail u"), F.col("id"), F.lit("@example.com")),
    ).otherwise(body)
    return base.select(F.col("id").alias("doc_id"), text.alias("text"))


def run_worker(root: str, n_docs: int, crash_stage: str | None, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from proj_spark.operators.checkpoint import CheckpointedPipeline
    from proj_spark.operators.components import dedup_groups
    from proj_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        shingle,
        tokenize,
    )
    from proj_spark.operators.split import hash_split
    from proj_spark.operators.text import (
        contamination,
        language_id,
        ngram_set,
        quality_score,
        scrub_pii,
    )
    from proj_spark.session import build_session

    # the 10M-doc drill needs SPARK_GRAFT_DRIVER_MEM=48g: in local mode
    # the driver heap is the executor heap of 32 concurrent tasks
    spark = build_session(
        "proj-spark-resume-drill", cpus=cpus, shuffle_partitions=max(4 * cpus, 8)
    )
    spark.sparkContext.setLogLevel("ERROR")
    pipe = CheckpointedPipeline(spark, root, key_col="doc_id")
    done_before = set(pipe.completed_stages())
    t0 = time.time()

    def after(stage: str, df):
        """Crash hook: once ``crash_stage`` commits, poison the NEXT
        stage's data dir with a partial file (no _SUCCESS) and die the
        way a preempted driver does."""
        if crash_stage and stage == crash_stage:
            nxt = STAGES[STAGES.index(stage) + 1]
            part = os.path.join(root, nxt, "data")
            os.makedirs(part, exist_ok=True)
            with open(os.path.join(part, "part-poison.parquet"), "wb") as f:
                f.write(b"TRUNCATED PARTIAL WRITE")
            spark.stop()
            os._exit(17)
        return df

    corpus = after(
        "corpus", pipe.run_stage("corpus", lambda: synth_docs(spark, n_docs, 4 * cpus))
    )
    scrubbed = after(
        "scrub",
        pipe.run_stage(
            "scrub",
            lambda: scrub_pii(corpus)
            .drop("text")
            .withColumnRenamed("text_scrubbed", "text")
            .select("doc_id", "text", "n_email"),
        ),
    )
    gated = after(
        "gate",
        pipe.run_stage(
            "gate",
            lambda: scrubbed.join(
                quality_score(scrubbed).select("doc_id", "quality"), "doc_id"
            )
            .join(language_id(scrubbed).select("doc_id", "pred_lang"), "doc_id")
            .where(F.col("quality") >= 0.0)
            .select("doc_id", "text"),
        ),
    )
    pairs = after(
        "pairs",
        pipe.run_stage(
            "pairs",
            lambda: minhash_lsh_pairs(
                minhash_signatures(
                    shingle(tokenize(gated), w=3),
                    id_col="doc_id",
                    deterministic=False,
                )
            ),
            key_col="id_a",
        ),
    )
    groups = after(
        "groups",
        pipe.run_stage(
            "groups",
            lambda: dedup_groups(gated, pairs, id_col="doc_id").where(
                F.col("is_canonical")
            ).select("doc_id", "text"),
        ),
    )
    decon = after(
        "decon",
        pipe.run_stage(
            "decon",
            lambda: groups.join(
                contamination(
                    groups,
                    ngram_set(gated.where(F.col("doc_id") < 5), w=13),
                    w=13,
                ),
                "doc_id",
            ).where(F.col("n_contaminated") == 0).select("doc_id", "text"),
        ),
    )
    split = after(
        "split", pipe.run_stage("split", lambda: hash_split(decon))
    )
    splits = {
        r.split: r.n
        for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out = {
        "splits": splits,
        "n_docs": n_docs,
        "stages_already_committed_at_start": sorted(done_before),
        "stages_run_this_attempt": [s for s in STAGES if s not in done_before],
        "wall_sec": round(time.time() - t0, 3),
    }
    spark.stop()
    return out


def drill(n_docs: int, base: str, cpus: int) -> dict:
    """Orchestrate: clean run A; run B killed after 'pairs' commits
    (with a poisoned partial in groups/); resumed run B2.  Equal split
    counts + stage-skip evidence = pass."""
    me = os.path.abspath(__file__)
    root_a, root_b = os.path.join(base, "runA"), os.path.join(base, "runB")

    def worker(root, crash=None):
        cmd = [sys.executable, me, "--root", root, "--docs", str(n_docs), "--cpus", str(cpus)]
        if crash:
            cmd += ["--crash-stage", crash]
        p = subprocess.run(cmd, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        return p.returncode, (json.loads(last) if p.returncode == 0 else p.stderr[-2000:])

    t0 = time.time()
    rc_a, a = worker(root_a)
    assert rc_a == 0, a
    rc_k, kerr = worker(root_b, crash="pairs")
    assert rc_k == 17, f"crash worker exited {rc_k}, wanted 17: {kerr}"
    poisoned = os.path.join(root_b, "groups", "data", "part-poison.parquet")
    assert os.path.exists(poisoned), "poison partial missing before resume"
    rc_b, b = worker(root_b)
    assert rc_b == 0, b

    ok = a["splits"] == b["splits"]
    resumed_skipped = set(b["stages_already_committed_at_start"]) >= {
        "corpus", "scrub", "gate", "pairs"
    }
    return {
        "metric": "curation-funnel checkpoint-resume drill (kill after 'pairs' commit + poisoned partial in groups/)",
        "n_docs": n_docs,
        "uninterrupted_splits": a["splits"],
        "resumed_splits": b["splits"],
        "splits_equal": ok,
        "resume_skipped_committed_stages": sorted(b["stages_already_committed_at_start"]),
        "resume_recomputed": b["stages_run_this_attempt"],
        "resume_skip_ok": resumed_skipped,
        "uninterrupted_wall_sec": a["wall_sec"],
        "resume_wall_sec": b["wall_sec"],
        "drill_wall_sec": round(time.time() - t0, 3),
        "pass": bool(ok and resumed_skipped),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--drill", action="store_true")
    ap.add_argument("--docs", type=int, default=int(os.environ.get("SPARK_GRAFT_DRILL_DOCS", "10000000")))
    ap.add_argument("--root", default=None)
    ap.add_argument("--base", default="/tmp/proj_spark_drill")
    ap.add_argument("--crash-stage", default=None)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()
    if args.drill:
        import shutil

        shutil.rmtree(args.base, ignore_errors=True)
        out = drill(args.docs, args.base, args.cpus)
        print(json.dumps(out))
        sys.exit(0 if out["pass"] else 1)
    assert args.root, "--root required for a worker run"
    print(json.dumps(run_worker(args.root, args.docs, args.crash_stage, args.cpus)))


if __name__ == "__main__":
    main()
