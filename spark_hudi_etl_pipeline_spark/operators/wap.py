"""Write-Audit-Publish (WAP): quality-gated atomic table commits.

The pattern (popularized by Netflix on Iceberg; Hudi ships it as
pre-commit validators — reference README's quality aspirations made
real): a batch's merged result is STAGED as uncommitted data files,
AUDITED in the staging directory, and only PUBLISHED — through the same
move-in + `_manifest/vN.json` commit tail as ``upsert_parquet`` in
operators/merge.py — when every check passes. A failing audit aborts
with the live table untouched; readers can never observe unaudited
rows because the staged files are unreferenced until the publish.

Scale: the audit runs on the staged candidate as a normal Spark job
(one pass for the default constraint report), the publish is one
metadata PUT, and an abort is a best-effort cleanup of unreferenced
files — all O(batch) beyond the audit scan itself.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .merge import (
    _commit_staged,
    _stage,
    merge_upsert,
    read_indexed_table,
    table_live_files,
)


#: Max violation rows collected to the driver on audit failure — the
#: abort decision needs only non-emptiness; the sample is for the error
#: message/alerting. A per-row audit over a huge dirty batch must not
#: flood driver memory.
AUDIT_SAMPLE_ROWS = 100


class AuditFailure(Exception):
    """Raised when a WAP audit rejects the staged candidate; carries a
    bounded SAMPLE (first :data:`AUDIT_SAMPLE_ROWS`) of the violation
    rows so the pipeline can log/alert without an unbounded collect."""

    def __init__(self, violations: list):
        self.violations = violations
        super().__init__(
            f"WAP audit failed: {len(violations)} violation rows sampled "
            f"(cap {AUDIT_SAMPLE_ROWS})"
        )


def wap_upsert(
    spark,
    batch: DataFrame,
    path: str,
    keys: list[str],
    precombine: str,
    *,
    audit: Callable[[DataFrame], DataFrame] | None = None,
    evolve_schema: bool = False,
) -> int:
    """Keyed upsert committed through write→audit→publish.

    ``audit``: callable mapping the CANDIDATE table state (a DataFrame
    over the staged-but-unpublished files) to a DataFrame of violation
    rows; empty ⇒ publish. On violations the staged files are removed
    and :class:`AuditFailure` is raised — the live manifest is never
    touched, so concurrent readers stay on the old version throughout.

    Returns the newly published manifest version.
    """
    import shutil

    version, live = table_live_files(path)
    state = read_indexed_table(spark, path) if live else None
    merged = merge_upsert(state, batch, keys, precombine, evolve_schema=evolve_schema)

    # WRITE: full COW rewrite into a staging directory (invisible to
    # table scans and to every manifest).
    staging, _ = _stage(merged, path)

    # AUDIT the candidate exactly as readers would see it post-publish.
    if audit is not None:
        violations = audit(spark.read.parquet(staging)).limit(AUDIT_SAMPLE_ROWS).collect()
        if violations:
            shutil.rmtree(staging, ignore_errors=True)  # abort: never referenced
            raise AuditFailure(violations)

    # PUBLISH: move in + one atomic manifest write — the commit point —
    # then clean the files it replaced.
    _commit_staged(path, staging, version + 1, kept=[], replaced=live)
    return version + 1
