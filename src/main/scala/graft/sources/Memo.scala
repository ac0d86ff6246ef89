package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session memo registry: every per-dataset artifact the engine
  * derives once and reuses (checkpointed frames, trained codebooks,
  * staged paths, corpus statistics) lives in ONE map under ONE key,
  * `(name, dataKey, session)`. `name` names the artifact and carries
  * any extra key part (`s"unigram.train_b$seedMulti"`); `dataKey` is
  * the dataset dir, or a [[Sinks.dirFingerprint]] where the dir may
  * grow within a session; the session is in every key by signature,
  * so a checkpointed frame is never handed to another session.
  *
  * [[refresh]] / [[cached]] serve expensive ANN-tier RESULTS (50-row
  * frames), the device `ann_recall_report` uses to re-invoke every
  * registered tier without re-paying their scans: a STANDALONE tier
  * invocation always computes live and [[refresh]]es its entry (so
  * each bench pass times the real scan — the round-10 ADVICE rule
  * that killed the staged-final-answer shortcut), while the report
  * reads the last computed frame through [[cached]], falling back to
  * the live path when the tier hasn't run this session. Results are
  * lineage-cut (eager localCheckpoint of a bounded frame), never
  * written to disk, never read by any oracle. */
object Memo {

  // IMMUTABLE-DATASET ASSUMPTION: entries never expire — correct
  // because a dataset dir is immutable for the life of a session (the
  // library's ingest paths write to catalog tables and staging dirs,
  // never INTO a dataset dir; a dir that an ingest simulation grows is
  // keyed by its fingerprint instead). Entries pin their session's
  // checkpoint blocks for the life of the JVM.
  private val m =
    scala.collection.concurrent.TrieMap[(String, String, SparkSession), Any]()

  /** The entry for `(name, dataKey, s)`, built by `build` on a miss. */
  def apply[T](name: String, dataKey: String, s: SparkSession)(build: => T): T =
    m.getOrElseUpdate((name, dataKey, s), build).asInstanceOf[T]

  /** Standalone path: evaluate the frame now, remember it. */
  def refresh(name: String, dataKey: String, s: SparkSession)(df: => DataFrame): DataFrame = {
    val d = df.localCheckpoint(true)
    m.put((name, dataKey, s), d)
    d
  }

  /** The entry for `(name, dataKey, s)` if one was built, building
    * nothing. */
  def get[T](name: String, dataKey: String, s: SparkSession): Option[T] =
    m.get((name, dataKey, s)).map(_.asInstanceOf[T])

  /** Report path: last computed frame if present, else `fallback`
    * (which, being the registered tier function, refreshes). */
  def cached(name: String, dataKey: String, s: SparkSession)(fallback: => DataFrame): DataFrame =
    get[DataFrame](name, dataKey, s).getOrElse(fallback)
}
