package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}

/** Batch-id ledger for foreachBatch sinks that mutate a persistent
  * store (the LakeSink discipline: marker written AFTER the data, so
  * a replayed micro-batch is skipped instead of double-applied).
  * Its one user is [[graft.operators.AnnIndex]]'s `appendStream` and
  * `dedupStream`; the minhash signature store keys its batches in its
  * own [[graft.operators.SnapshotLog]] transaction map, under an app
  * id hashed from the same qualified checkpoint URI.
  *
  * Markers are NAMESPACED BY CHECKPOINT IDENTITY (ADVICE r12): batch
  * ids are scoped to one checkpoint — a FRESH checkpoint pointed at an
  * existing store restarts them at 0, and an un-namespaced ledger
  * would then silently skip every batch whose id a previous query
  * already claimed (for a dedup sink that is silent output loss, not
  * a benign duplicate-skip). Keying the ledger dir by a hash of the
  * checkpoint location makes each (store, checkpoint) binding its own
  * replay domain: replays within one query still skip; a new
  * checkpoint starts a clean ledger and re-applies from its own
  * batch 0.
  *
  * The namespace hashes the checkpoint's QUALIFIED URI, not the raw
  * string (ADVICE r13): `/ckpt`, `/ckpt/` and `file:/ckpt` are one
  * checkpoint and must be one replay domain — a restart that merely
  * spells the path differently would otherwise re-apply crash-window
  * batches (duplicate vectors for
  * [[graft.operators.AnnIndex.appendStream]]). Migration note: ledgers
  * written before this normalization (raw-string hash) resolve to a
  * different namespace, so one restart may re-apply its crash-window
  * batch once.
  */
object StreamLedger {

  /** One canonical spelling per checkpoint: qualified against `f`
    * (scheme + authority filled in, trailing slashes and `.`/`..`
    * segments normalized by [[Path]]).
    */
  def normalize(f: FileSystem, checkpoint: String): String =
    f.makeQualified(new Path(checkpoint)).toUri.toString

  /** The ledger directory for one (store root, checkpoint) binding —
    * underscore-prefixed so parquet readers of the store never see it.
    */
  def dir(f: FileSystem, root: Path, checkpoint: String): Path =
    new Path(root,
      s"_stream_ledger/${graft.Hashing.md5hex(normalize(f, checkpoint)).take(12)}")

  /** Marker path for one micro-batch of one (store, checkpoint). */
  def marker(f: FileSystem, root: Path, checkpoint: String, batchId: Long): Path =
    new Path(dir(f, root, checkpoint), s"batch-$batchId")

  /** Run `body` iff `batchId` has not been claimed under this
    * checkpoint's namespace, committing the marker AFTER it succeeds.
    */
  def once(f: FileSystem, root: Path, checkpoint: String, batchId: Long)
      (body: => Unit): Unit = {
    val m = marker(f, root, checkpoint, batchId)
    if (!f.exists(m)) {
      body
      f.mkdirs(m.getParent)
      f.createNewFile(m)
    }
  }
}
