"""Correctness oracle for one generated corpus.

Built once per invocation, outside every timed region, from the engine's
own validate/normalize operators (the text the engine signs) and the
exact-Jaccard oracle of ``tools/recall_report.py``:

- planted near-duplicate pairs (``near/of_{i}`` is a line-edit of base
  ``src/mod{i}``) with their TRUE shingle Jaccard;
- the number of valid input rows;
- the normalized text of a sample of rows, whose CPython ``hashlib``
  sha256 every operation's ``content_sha256`` must equal.

``check`` then grades one operation's clustered output.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from email_sanitizer_api_spark.config import DedupConfig
from email_sanitizer_api_spark.operators.exact import with_sha
from email_sanitizer_api_spark.operators.normalize import normalize_content
from email_sanitizer_api_spark.operators.validate import (
    split_valid, validate_content)

RECALL_TARGET = 0.99


def load_tool(root: str, name: str) -> Any:
    """Import ``tools/<name>.py`` of the checkout (``tools`` is not a
    package)."""
    spec = importlib.util.spec_from_file_location(
        f"_perfbench_{name}", os.path.join(root, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def planted_pairs(pdf: pd.DataFrame) -> list[tuple[tuple[str, str],
                                                   tuple[str, str]]]:
    """(base, near copy) identities, recovered from path provenance the
    same way tools/recall_report.py does."""
    base, near = {}, {}
    for repo, path in zip(pdf["repo"], pdf["path"]):
        if path.startswith("src/mod"):
            base[int(path.split("/")[1][3:])] = (repo, path)
        elif path.startswith("near/of_"):
            near[int(path.split("/")[1].split(".")[0][3:])] = (repo, path)
    return [(base[i], near[i]) for i in sorted(near) if i in base]


class Oracle:
    def __init__(self, spark: SparkSession, files: DataFrame,
                 pdf: pd.DataFrame, cfg: DedupConfig, root: str,
                 sha_sample: int = 500) -> None:
        true_jaccard = load_tool(root, "recall_report").true_jaccard
        self.cfg = cfg
        self.pairs = planted_pairs(pdf)
        valid, _ = split_valid(validate_content(files, cfg))
        norm = with_sha(normalize_content(valid.drop("verdict"))).persist()
        self.valid_rows = norm.count()
        members = sorted({p for pair in self.pairs for _, p in pair})
        paths = spark.createDataFrame([(p,) for p in members], "path string")
        text = {(r["repo"], r["path"]): r["content_norm"] for r in
                norm.join(F.broadcast(paths), "path")
                .select("repo", "path", "content_norm").collect()}
        self.jaccard = [true_jaccard(text[a], text[b], cfg.shingle_k)
                        for a, b in self.pairs]
        self.sha = {
            (r["repo"], r["path"]):
                hashlib.sha256(r["content_norm"].encode("utf-8")).hexdigest()
            for r in norm.select("repo", "path", "content_norm")
            .orderBy(F.hash("repo", "path")).limit(sha_sample).collect()}
        norm.unpersist()

    def check(self, fc: pd.DataFrame) -> dict[str, Any]:
        """Grade one clustered output (repo, path, content_sha256,
        cluster_id): recall over planted pairs with true J >= tau, false
        merges over pairs with true J < tau - verify_margin, and the
        row-count / exact-group / sha256 invariants."""
        cluster = dict(zip(zip(fc["repo"], fc["path"]), fc["cluster_id"]))
        sha = dict(zip(zip(fc["repo"], fc["path"]), fc["content_sha256"]))
        tau, low = (self.cfg.jaccard_threshold,
                    self.cfg.jaccard_threshold - self.cfg.verify_margin)
        above = below = found = merged = 0
        for (a, b), j in zip(self.pairs, self.jaccard):
            same = a in cluster and cluster.get(a) == cluster.get(b)
            if j >= tau:
                above += 1
                found += same
            elif j < low:
                below += 1
                merged += same
        recall = found / above if above else 1.0
        split = int((fc.groupby("content_sha256")["cluster_id"].nunique()
                     > 1).sum())
        sha_bad = sum(sha.get(k) != v for k, v in self.sha.items())
        failures = []
        if recall < RECALL_TARGET:
            failures.append(f"recall {recall:.4f} < {RECALL_TARGET}")
        if len(fc) != self.valid_rows:
            failures.append(f"{len(fc)} output rows != {self.valid_rows} "
                            "valid input rows")
        if split:
            failures.append(f"{split} exact-sha groups split across clusters")
        if sha_bad:
            failures.append(f"{sha_bad} content_sha256 values != hashlib")
        return {
            "recall": recall, "pairs_above_tau": above,
            "false_merge_ratio": merged / below if below else 0.0,
            "pairs_below_band": below, "exact_groups_split": split,
            "sha256_checked": len(self.sha), "sha256_mismatches": sha_bad,
            "failures": failures,
        }
