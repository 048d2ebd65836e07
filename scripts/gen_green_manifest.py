"""Regenerate scripts/green_manifest.json after a driver round.

The manifest maps every corpus entry that has EVER been driver-green
(hash_match, or rows_match for rows-only entries, in any CORRECTNESS_r*.json)
to a sha256 of its current implementation source + oracle SQL.
tests/test_corpus_order.py then enforces: if a green entry's source changes,
it must re-enter corpus_order.DRIVER_WINDOW so the driver re-certifies it —
no entry may coast on a CORRECTNESS row earned by code that no longer exists
(the round-2 ``win-percent`` failure mode).

The helper closure covers OPS-MODULE helpers (common/ext_llm/
ext_pipeline/graphs attributes named in _SHARED_HELPERS). Engine planes
that entries certify THROUGH but never inline (warehouse:
materialize.py + fsutil.py for the sink entries; multimodal:
multimodal.py for the ext-multimodal-* entries; streaming:
streaming/jobs.py for stream-dedup-near-cert) are pinned separately
at FILE level into scripts/plane_manifest.json: a plane edit re-windows
every green entry certifying through it, closing the blind spot where a
behavioral change there could coast on rows earned by the old code
(tests/test_corpus_order.py::test_planes_unchanged_or_windowed).

Run after each round's CORRECTNESS_r{N}.json lands:
    python scripts/gen_green_manifest.py
"""

from __future__ import annotations

import hashlib
import inspect
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dbtwiz_spark.ops import CORPUS  # noqa: E402


# Shared ops helpers whose behavior flows into entries WITHOUT appearing
# in the entry function's own source. An edit to one of these must trip
# the guard for every referencing green entry (the parallel_rank
# extraction created exactly that blind spot for win-percent/gini), so
# each referenced helper's source is folded into the entry hash.
# Substring matching is deliberately conservative: "dsum" also matches a
# "dsum_sql" reference — over-inclusion can only force a re-window,
# never miss an edit.
_SHARED_HELPERS = (
    "parallel_rank",
    "parallel_prefix_sum",
    "_bpe_reps",
    "ext_ngram_jaccard",
    "dsum_sql",
    "dsum_scaled_sql",
    "dsum_scaled",
    "dsum_q4_sql",
    "dsum_q4",
    "dsum_q8_sql",
    "dsum_q8",
    "davg_sql",
    "hkey_sql",
    "dsum",
    "davg",
    "hkey",
    "cap_shingle_df",
    "shingles",
    "_cc_propagate",
    "_pr_edges",
    "_pr_deg",
    "_copurchase_cs",
    # round-10: the switchable lineage-truncation device (localCheckpoint
    # vs reliable checkpoint under SPARK_GRAFT_CHECKPOINT_DIR) used by
    # CC/HITS/k-core/dedup-cluster — appended last, same reasoning.
    # _checkpoint_dir is _truncate's callee: without it an edit to the
    # env/conf resolution would change every iterative op's runtime
    # behavior with no hash trip (the parallel_rank blind spot again)
    "_truncate",
    "_checkpoint_dir",
    # round-17 (r16 verdict item 3 — the cosine/IVF helper blind spot):
    # the round-16 edits to cosine_topk / ivf_* changed the runtime plans
    # of three certified entries with ZERO hash drift because none of the
    # vector-family helpers was in this closure. Close the whole family —
    # every module-level helper a corpus entry invokes at runtime —
    # appended last per the hash-stability rule. Over-inclusion is safe
    # by design (worst case an extra re-window). Inner helpers
    # (lsh_signatures -> _lsh_bucket_expr, _centroid_scores -> the SQL
    # text builder) are listed so the transitive closure reaches them
    # from entries that only name the outer ones.
    "cosine_topk",
    "ivf_index",
    "ivf_topk_from_table",
    "ivf_topk",
    "ivf_assign",
    "_centroid_scores_sql",
    "_centroid_scores",
    "_centroids_as_array",
    "_arr_dot",
    "_dot_expr",
    "_norm_expr",
    "lsh_topk",
    "lsh_signatures",
    "_lsh_bucket_expr",
    "band_stack",
    "minhash_signatures",
    "_cosine_pairs",
    "_pair_cosine_sql",
    "_recall_entry",
    "_by_cust",
    "scratch_dir",
    # round-18: the one artifact cache behind every memoized artifact and
    # the rank/prefix device (it replaced the per-module memo stores and
    # their wrappers, whose names left this tuple with them) — appended
    # last per the hash-stability rule; without it an edit to the cache
    # (key, generation check, eviction) would change every cached
    # artifact's runtime behavior with no hash trip. _generation and
    # _unpersist are its callees (the _checkpoint_dir-under-_truncate
    # reasoning)
    "cached_artifact",
    "_generation",
    "_unpersist",
)

# Certificate coupling (round 12, closing the corpus_order.py:72-86
# hole): a certificate entry invokes its certified op at RUNTIME — the
# recall/parity it measures is a property of that op's current code —
# but the op's source never appeared in the cert's entry hash, so an op
# edit forced the OP back into the driver window without forcing its
# CERT, leaving the cert's green row certifying recall measured against
# the superseded op (round-11 instance: the ext-dedup-near rejoin switch
# re-windowed ext-dedup-near but not ext-dedup-near-recall). Folding the
# certified op's FULL entry hash (source + oracle + helper closure) into
# the cert's hash makes any change that re-windows the op re-window its
# certificate too. tests/test_corpus_order.py pins the mapping's
# coverage (every rows-only entry has a cert here) and the coupling
# (the op hash is a real input to the cert hash).
CERT_OF = {
    "ext-dedup-near-recall": "ext-dedup-near",
    "ext-dedup-simhash-recall": "ext-dedup-simhash",
    "ext-ann-lsh-recall": "ext-ann-lsh-bucket",
    "ext-ann-ivf-recall": "ext-ann-ivf",
    "stream-dedup-near-cert": "stream-dedup-near",
    "sort-within-partitions-cert": "sort-within-partitions",
}


def entry_hash(name: str, _cert_op_hash: str | None = None) -> str:
    """sha256 over the entry's implementation source, oracle SQL, the
    transitive _SHARED_HELPERS closure, and — for certificate entries —
    the certified op's own entry hash (CERT_OF coupling). ``_cert_op_hash``
    overrides that last part so the coupling itself is unit-testable
    without editing source files on disk."""
    import dbtwiz_spark.ops.common as _common
    import dbtwiz_spark.ops.ext_llm as _ext_llm
    import dbtwiz_spark.ops.ext_pipeline as _ext_pipeline
    import dbtwiz_spark.ops.graphs as _graphs

    # round-17: windows/aggregates/streaming_batch appended (the _by_cust
    # window-spec helper lives in windows.py and was invisible to the
    # closure — same blind-spot shape as the vector helpers). Appended
    # AFTER the original four so every existing helper keeps resolving to
    # its original owner (first match wins) and pinned hashes stay stable.
    import dbtwiz_spark.ops.aggregates as _aggregates
    import dbtwiz_spark.ops.streaming_batch as _streaming_batch
    import dbtwiz_spark.ops.windows as _windows

    owners = (
        _common,
        _ext_llm,
        _ext_pipeline,
        _graphs,
        _windows,
        _aggregates,
        _streaming_batch,
    )

    spec = CORPUS[name]
    src = inspect.getsource(spec.fn)
    parts = [src, "---oracle---", spec.oracle or ""]
    # Transitive closure over helper references: a listed helper's source
    # may itself call another listed helper (parallel_rank -> hkey style),
    # and an edit to the INNER one must trip the guard for entries that
    # only name the outer one. Iterate to fixpoint — helper sets are tiny.
    included: dict[str, str] = {}
    pending = [
        h for h in _SHARED_HELPERS if h in src or h in (spec.oracle or "")
    ]
    while pending:
        helper = pending.pop()
        if helper in included:
            continue
        owner = next((m for m in owners if hasattr(m, helper)), None)
        if owner is None:
            continue
        hsrc = inspect.getsource(getattr(owner, helper))
        included[helper] = hsrc
        pending.extend(
            h for h in _SHARED_HELPERS if h not in included and h in hsrc
        )
    # append in _SHARED_HELPERS tuple order for hash stability
    for helper in _SHARED_HELPERS:
        if helper in included:
            parts.append(included[helper])
    certified_op = CERT_OF.get(name)
    if certified_op is not None:
        parts.append("---certified-op---")
        parts.append(
            _cert_op_hash
            if _cert_op_hash is not None
            else entry_hash(certified_op)
        )
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def row_green(name: str, row: dict) -> bool:
    """THE green predicate for a single driver CORRECTNESS row — shared
    with scripts/freshness_report.py so the rotation planner can never
    drift from the guard (review find: a reimplementation there dropped
    the err gate, so a hypothetical err='timeout' row carrying a stale
    hash_match would have counted green for planning but not pinning)."""
    if row.get("err") and row["err"] != "no_oracle":
        return False
    # an oracle-carrying entry is green ONLY on a value-hash match;
    # rows_match suffices solely for rows-only entries (no oracle) —
    # counting rows_match for oracle entries would pin value-hash
    # FAILURES (e.g. the r3 HUGEINT mismatches) as certified green
    spec = CORPUS.get(name)
    if row.get("hash_match"):
        return True
    # rows-only green requires the driver row to have been RECORDED as a
    # rows-only check (err == "no_oracle"), not just the current spec to
    # lack an oracle — otherwise removing a failing entry's oracle would
    # retroactively certify its old hash-FAILED rows
    return (
        row.get("err") == "no_oracle"
        and row.get("spark_rows") is not None
        and spec is not None
        and spec.oracle is None
    )


def green_entries() -> set[str]:
    green: set[str] = set()
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        data = json.loads(path.read_text())
        for name, row in data.items():
            if row_green(name, row):
                green.add(name)
    return green


# Planes: engine modules that entries certify THROUGH rather than
# inline — the op function calls into them, so the entry-source hash
# above never sees their edits. File-level pins close that gap:
# - warehouse: sink entries (+ stream-dedup-near-cert) call Warehouse
#   methods in materialize.py; fsutil.py is its atomicity/staging
#   callee — same reasoning as _checkpoint_dir under _truncate in
#   _SHARED_HELPERS.
# - multimodal: the two ext-multimodal-* entries call
#   extract_features/frame_sample in multimodal.py.
# - core (round 12): EVERY entry certifies through Catalog (table
#   loading, the events-ts normalization, view registration) and the
#   session factory's conf set (AQE, shuffle partitioning, ANSI mode) —
#   a behavioral edit to either would shift every certified query's
#   semantics or plan with no hash trip anywhere. Affected set = all
#   green entries, so an edit here cannot fit one 50-slot window: the
#   guard going red forces the edit to be staged across rounds or
#   consciously re-certified — which is the correct cost of changing
#   the semantics floor under 286 certifications. Pin bootstrapped at
#   round-12 HEAD (the standing caveat: governs edits from r13 on).
# - streaming: stream-dedup-near-cert replays the corpus through
#   foreach_batch_near_dedup in streaming/jobs.py, whose execution is
#   not in the entry hash. Pin bootstrapped at the HEAD of the change
#   that added the once-per-micro-batch sink wrapper, after that change's
#   own edits to the module (the near-dedup sink itself was left as is).
# The guard test derives each plane's affected entries dynamically
# (tests/test_corpus_order.py::test_planes_unchanged_or_windowed).
PLANES: dict[str, tuple[str, ...]] = {
    "warehouse": (
        "dbtwiz_spark/materialize.py",
        "dbtwiz_spark/fsutil.py",
    ),
    "multimodal": ("dbtwiz_spark/multimodal.py",),
    "core": (
        "dbtwiz_spark/catalog.py",
        "dbtwiz_spark/session.py",
    ),
    "streaming": ("dbtwiz_spark/streaming/jobs.py",),
}


def plane_hashes(plane: str) -> dict[str, str]:
    return {
        rel: hashlib.sha256((REPO / rel).read_bytes()).hexdigest()
        for rel in PLANES[plane]
    }


def main() -> None:
    manifest = {
        name: entry_hash(name)
        for name in sorted(green_entries())
        if name in CORPUS
    }
    out = REPO / "scripts" / "green_manifest.json"
    out.write_text(json.dumps(manifest, indent=1) + "\n")
    print(f"{len(manifest)} green entries pinned -> {out}")
    plane_out = REPO / "scripts" / "plane_manifest.json"
    plane_out.write_text(
        json.dumps(
            {plane: plane_hashes(plane) for plane in PLANES}, indent=1
        )
        + "\n"
    )
    n = sum(len(files) for files in PLANES.values())
    print(f"{n} plane files pinned ({', '.join(PLANES)}) -> {plane_out}")


if __name__ == "__main__":
    main()
