"""Content-addressed dedup store: hybrid inline/blob split encode
(SURVEY.md §2 B10+).

Real source-code corpora at 10^12-file scale are massively duplicated —
forks, vendored dependencies, license/config boilerplate (Software
Heritage's public stats put exact-duplicate files at well over half the
corpus). The per-chunk codecs (dict/linedict/FSST/huffman) only see the
duplication that lands inside one 32 MB chunk; this module removes it
GLOBALLY — but only where removal pays. The table splits into

  refs :  (...user columns..., <sha col>)   — one row per input row;
          content is INLINE for unique rows (sha NULL), and NULL with
          the sha set for rows whose content occurs >= 2 times
  blobs:  (<sha col>, <content col>)        — one row per DISTINCT
          content that occurs >= 2 times in the corpus

each encoded by the existing :func:`~.manifest.encode_table` machinery,
so manifests, checkpoint/resume, zone maps and the sha256 row invariant
are all inherited, not re-implemented.

Why hybrid, not a full blob/ref split: the store's economics are
per-row. A full split pays a sha (64-hex -> 32 B after the hex codec)
on EVERY row to save the encoded bytes of duplicate content only; at
this engine's measured ratios (~90 encoded B per ~1.4 KB source file)
that trade only wins above ~50% duplication. The hybrid pays the sha
ONLY on rows the dedup actually compresses, so it strictly dominates
plain encode on any corpus (measured on the ~10%-dup test corpus:
full split +42% vs plain, hybrid -2.5%; the gap widens with dup rate).

Scale shape (the parts that matter at 100 TB):

- the duplicated-sha set is a partial (map-side) aggregate over 32-B
  keys: a blob duplicated 10^6 times contributes once per input split,
  never 10^6 rows, before the exchange.
- tagging rows dup/unique is one equi-join of the corpus against that
  set on the sha. The hot key IS the duplicated sha, so this join is
  exactly the AQE skew-join case — enable
  ``spark.sql.adaptive.skewJoin`` (on by default here) and the hot
  sha's row block splits across tasks.
- blob extraction is ``dropDuplicates([sha])`` (map-side combined, so
  hot-blob skew is capped before the exchange) followed by a semi-join
  against the dup-sha set — both sides already hash-partitioned by
  sha, so Catalyst reuses the exchange.
- the blob table is keyed by sha, uniform by construction, clustered
  by sha (byte-reproducible encode + sha zone bounds on every part).
- decode is one left join blob-side = deduped bytes only; a scan that
  does not touch the content column never opens the blob store at
  all, and a selective predicate pushes the surviving refs' shas into
  the blob decode as an IN predicate that prunes blob PARTS via the
  sha zone bounds (``blob_pushdown_limit``).

Why sha256 (not xxhash): the store maps equal hashes to one stored
content, so the hash must be collision-free at 10^12 keys; 64-bit
xxhash collides at ~10^9-10^10 keys by birthday bound, sha256 never.
"""

from __future__ import annotations

import json
import os

from . import fsio
from .manifest import decode_table, encode_table

SHA_COL = "_fcs_content_sha"
DEDUP_META = "_dedup_meta.json"


def _dirs(out_dir: str) -> tuple[str, str]:
    return os.path.join(out_dir, "refs"), os.path.join(out_dir, "blobs")


def encode_table_dedup(spark, df, out_dir: str, content_col: str = "content",
                       key_col: str = "repo",
                       salt_cols: tuple[str, ...] = ("path", "commit"),
                       n_buckets: int | None = None,
                       blob_buckets: int | None = None,
                       resume: bool = True,
                       stats_sample_fraction: float = 1.0,
                       cluster_by: tuple[str, ...] | None = None) -> dict:
    """Encode ``df`` as a hybrid content-addressed store at ``out_dir``.

    ``content_col`` is the deduplicated payload column; every other
    argument mirrors :func:`~.manifest.encode_table` and applies to the
    ref table (``cluster_by`` drives ref-side predicate pruning exactly
    as for a plain table). ``blob_buckets`` sizes the
    blob table separately (default: auto from deduped bytes).

    Resume: both sub-tables are ordinary encoded tables, so a killed
    job resumes part-by-part in each; the dedup split itself is
    deterministic (sha of content), so re-planning reproduces the same
    blob set.

    NULL content stays on the ref row as an inline NULL (the blob store
    holds no row for it) and decodes back to NULL — distinct from the
    empty string, which hashes and dedups like any content.
    """
    from pyspark.sql import functions as F

    if content_col not in df.columns:
        raise ValueError(f"encode_table_dedup: no column {content_col!r}")
    if SHA_COL in df.columns:
        raise ValueError(f"encode_table_dedup: {SHA_COL!r} is reserved")
    refs_dir, blobs_dir = _dirs(out_dir)
    fsio.makedirs(out_dir)

    sha = F.sha2(F.col(content_col), 256)
    # duplicated-sha set: partial agg over 32-B keys (map-side combined)
    dup_shas = (df.select(sha.alias(SHA_COL))
                .where(F.col(SHA_COL).isNotNull())
                .groupBy(SHA_COL).count()
                .where(F.col("count") >= 2)
                .select(SHA_COL))
    marked = df.withColumn(SHA_COL, sha).join(
        dup_shas.withColumn("_fcs_dup", F.lit(True)),
        on=SHA_COL, how="left")
    refs = (marked
            .withColumn(content_col,
                        F.when(F.col("_fcs_dup").isNull(),
                               F.col(content_col)))
            .withColumn(SHA_COL,
                        F.when(F.col("_fcs_dup").isNotNull(),
                               F.col(SHA_COL)))
            .drop("_fcs_dup")
            # keep the source column order, sha last
            .select(*df.columns, SHA_COL))
    blobs = (df.select(sha.alias(SHA_COL), F.col(content_col))
             .where(F.col(SHA_COL).isNotNull())
             .dropDuplicates([SHA_COL])
             .join(dup_shas, on=SHA_COL, how="left_semi"))

    blob_summary = encode_table(
        spark, blobs, blobs_dir, n_buckets=blob_buckets, resume=resume,
        key_col=SHA_COL, salt_cols=(SHA_COL,), weight_col=content_col,
        stats_sample_fraction=stats_sample_fraction,
        cluster_by=(SHA_COL,))
    ref_summary = encode_table(
        spark, refs, refs_dir, n_buckets=n_buckets, resume=resume,
        key_col=key_col, salt_cols=salt_cols, weight_col=content_col,
        stats_sample_fraction=stats_sample_fraction,
        cluster_by=cluster_by)

    # source-byte accounting (reporting only): the ref table's raw bytes
    # swap dup rows' content for a 64-char sha the source never had, so
    # the against-source ratio needs the source's own byte counts
    acct = df.agg(
        F.sum(F.octet_length(content_col)).alias("content_bytes"),
        F.count(content_col).alias("n_content"),
        F.count(F.lit(1)).alias("n_rows")).first()
    ref_acct = refs.agg(
        F.count(SHA_COL).alias("ref_rows"),
        F.sum(F.octet_length(content_col)).alias("inline_bytes")).first()
    src_content = int(acct["content_bytes"] or 0)
    ref_rows = int(ref_acct["ref_rows"])
    src_raw = (ref_summary["raw_bytes"] - 64 * ref_rows
               - int(ref_acct["inline_bytes"] or 0) + src_content)
    enc_total = ref_summary["enc_bytes"] + blob_summary["enc_bytes"]
    summary = {
        "n_rows": int(acct["n_rows"]),
        "n_blobs": blob_summary["n_rows"],
        "ref_rows": ref_rows,
        "dup_rows_removed": ref_rows - blob_summary["n_rows"],
        "content_bytes": src_content,
        "blob_content_bytes": blob_summary["raw_bytes"],
        "raw_bytes": int(src_raw),
        "enc_bytes": int(enc_total),
        "ratio": (enc_total / src_raw) if src_raw else None,
        "wall_s": ref_summary["wall_s"] + blob_summary["wall_s"],
        "refs": ref_summary,
        "blobs": blob_summary,
    }
    fsio.write_bytes_atomic(
        os.path.join(out_dir, DEDUP_META),
        json.dumps({"dedup_format": 2, "content_col": content_col,
                    "sha_col": SHA_COL,
                    "column_order": list(df.columns)}).encode())
    fsio.write_bytes_atomic(os.path.join(out_dir, "_summary.json"),
                            json.dumps(summary, indent=1).encode())
    return summary


def decode_table_dedup(spark, out_dir: str,
                       columns: list[str] | None = None,
                       predicate: tuple | list | None = None,
                       blob_pushdown_limit: int = 20_000):
    """Read a content-addressed store back as the original DataFrame.

    ``columns``/``predicate`` behave as in
    :func:`~.manifest.decode_table`, applied to the REF table (so
    part/chunk pruning works on the ref side's zone maps). Predicates
    may not name the content column — for ref rows it lives in the blob
    store where only shas are ordered; filter the returned DataFrame
    instead.

    A projection without the content column never touches the blob
    store (the metadata-scan fast path). When content IS needed and a
    predicate is present, the surviving refs' distinct shas are
    collected up to ``blob_pushdown_limit`` and pushed into the blob
    decode as an ``(sha, "in", ...)`` predicate — the blob table is
    clustered by sha, so its part manifests prune to just the parts
    holding referenced blobs. Above the limit the full blob store
    decodes and the join drops the rest (the safe default at scale:
    a broad predicate references most blobs anyway).
    """
    from pyspark.sql import functions as F

    meta = json.loads(fsio.read_bytes(os.path.join(out_dir, DEDUP_META)))
    content_col = meta["content_col"]
    sha_col = meta["sha_col"]
    order: list[str] = meta["column_order"]
    refs_dir, blobs_dir = _dirs(out_dir)

    want = list(order) if columns is None else list(columns)
    unknown = set(want) - set(order)
    if unknown:
        raise ValueError(f"decode_table_dedup: unknown columns "
                         f"{sorted(unknown)}")
    from .manifest import normalize_predicate, pred_columns
    pcols = sorted(pred_columns(normalize_predicate(predicate)))
    if content_col in pcols:
        raise ValueError(
            "decode_table_dedup: predicates on the content column "
            f"({content_col!r}) cannot prune the ref store — decode and "
            "filter the returned DataFrame instead")

    need_content = content_col in want
    ref_cols = [c for c in want if c != content_col]
    if need_content:
        ref_cols.append(content_col)        # inline content for unique rows
    for pc in pcols:                      # decode_table requires pred cols
        if pc not in ref_cols:            # in the projection; drop after
            ref_cols.append(pc)
    if need_content and sha_col not in ref_cols:
        ref_cols.append(sha_col)
    refs = decode_table(spark, refs_dir, columns=ref_cols,
                        predicate=predicate)
    if not need_content:
        return refs.select(*[c for c in want])

    blob_pred = None
    if predicate is not None and blob_pushdown_limit > 0:
        # the sha collect is a separate action over the ref decode, and
        # the join below scans it again — persist so the (pruned,
        # filtered) ref rows materialize once. Without cluster_by on the
        # predicate columns the ref scan cannot prune parts and BOTH
        # passes read the full ref store; cluster the refs by the
        # predicate's leading column (encode_table_dedup cluster_by),
        # exactly as for a plain table.
        refs = refs.persist()
        head = (refs.select(sha_col).where(f"{sha_col} is not null")
                .distinct().limit(blob_pushdown_limit + 1).collect())
        if len(head) <= blob_pushdown_limit:
            blob_pred = (sha_col, "in", [r[sha_col] for r in head])
    blob_content = "_fcs_blob_" + content_col
    blobs = decode_table(spark, blobs_dir, predicate=blob_pred) \
        .withColumnRenamed(content_col, blob_content)
    joined = refs.join(blobs, on=sha_col, how="left").withColumn(
        content_col, F.coalesce(F.col(content_col), F.col(blob_content)))
    return joined.select(*[c for c in want])
