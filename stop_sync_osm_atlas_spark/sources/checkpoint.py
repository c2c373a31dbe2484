"""Snapshot-checkpoint resume (Q7 analog, file-system edition).

Semantics (mirrors Iceberg's snapshot-per-commit, and the reference's
persistent_data replay surviving full re-imports, reference
backend/services/import_persistence.py:4-101):

- every uncommitted partition group (``part_bucket % n_groups``) is
  written by ONE partitioned Spark job whose observed metrics carry the
  per-group row counts; each group commit is atomic (directory rename
  + marker file rename);
- a re-run lists committed markers, anti-joins nothing — it simply
  *skips* committed groups (cheaper than an anti-join: pruning happens
  at the partition level before any scan);
- the final table is byte-identical to a clean run because part_bucket
  is a content hash of image_id (cross-run stable), not a task id.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class CheckpointedWriter:
    def __init__(self, root: str, n_groups: int = 8):
        self.root = root
        self.n_groups = n_groups
        os.makedirs(self._marker_dir(), exist_ok=True)
        # pin n_groups to the root: resuming with a different count
        # would re-assign every row's group (pmod changes) while the
        # old markers still claim their groups — silently duplicating
        # recomputed rows and dropping marker-skipped ones
        meta = os.path.join(self._marker_dir(), "meta.json")
        if os.path.exists(meta):
            with open(meta) as fh:
                prev = json.load(fh).get("n_groups")
            if prev != n_groups:
                raise ValueError(
                    f"checkpoint root {root} was written with "
                    f"n_groups={prev}; resuming with n_groups="
                    f"{n_groups} would corrupt the committed groups"
                )
        else:
            with open(meta + ".tmp", "w") as fh:
                json.dump({"n_groups": n_groups}, fh)
            os.rename(meta + ".tmp", meta)

    def _marker_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    def _marker(self, group: int) -> str:
        return os.path.join(self._marker_dir(), f"group={group}.json")

    def _group_dir(self, group: int) -> str:
        return os.path.join(self.root, "decisions", f"group={group}")

    def committed_groups(self) -> set[int]:
        if not os.path.isdir(self._marker_dir()):
            return set()
        out = set()
        for f in os.listdir(self._marker_dir()):
            if f.startswith("group=") and f.endswith(".json"):
                out.add(int(f[len("group=") : -len(".json")]))
        return out

    def run(self, decisions: DataFrame) -> dict[int, int]:
        """Write all uncommitted groups in ONE Spark job. Returns counts.

        The decisions plan runs exactly once: a single
        ``partitionBy(_commit_group)`` write fans every uncommitted
        group into its own directory, and an ``Observation`` on that
        same write counts each group's rows — no re-read per group.
        The driver then promotes each directory by atomic rename and
        writes its marker. Group-level atomicity is preserved: a crash
        mid-promotion leaves promoted groups committed and the rest
        recomputed on resume.
        """
        done = self.committed_groups()
        todo = [g for g in range(self.n_groups) if g not in done]
        counts: dict[int, int] = {}
        if not todo:
            return counts
        # tmp lives OUTSIDE root/decisions: read_all's partition
        # discovery keeps even _-prefixed dirs whose name holds '=', so
        # a crash-orphaned tmp inside would duplicate rows
        # (test_resume_guards)
        tmp_root = os.path.join(self.root, "decisions.tmp")
        shutil.rmtree(tmp_root, ignore_errors=True)
        grp = F.col("_commit_group")
        obs = Observation()
        (
            decisions.withColumn(
                "_commit_group",
                F.pmod(F.col("part_bucket"), F.lit(self.n_groups)),
            )
            .where(grp.isin(todo))
            .observe(obs, *[F.count_if(grp == g).alias(f"g{g}") for g in todo])
            .write.mode("overwrite")
            .partitionBy("_commit_group")
            .parquet(tmp_root)
        )
        observed = obs.get
        os.makedirs(os.path.join(self.root, "decisions"), exist_ok=True)
        for g in todo:
            src = os.path.join(tmp_root, f"_commit_group={g}")
            final = self._group_dir(g)
            shutil.rmtree(final, ignore_errors=True)
            if os.path.isdir(src):
                os.rename(src, final)
            else:
                # the group matched no rows: commit it empty so a
                # resume does not recompute the plan for nothing
                os.makedirs(final, exist_ok=True)
            n = int(observed[f"g{g}"])
            with open(self._marker(g) + ".tmp", "w") as fh:
                json.dump({"group": g, "rows": n}, fh)
            os.rename(self._marker(g) + ".tmp", self._marker(g))
            counts[g] = n
        shutil.rmtree(tmp_root, ignore_errors=True)
        return counts

    def read_all(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.root, "decisions"))
