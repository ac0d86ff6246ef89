package graft.sources

import org.apache.spark.sql.DataFrame

/** Writers for the engine's output tables.
  *
  * [[writeBucketed]] is the co-located-join layout: both sides of a
  * recurring fact⋈fact join written bucketed (and sorted) by the join
  * key mean every subsequent join is exchange-free — the shuffle is
  * paid once at write time, not per query. At 100 TB this is the
  * difference between a nightly pipeline that reshuffles the world
  * per stage and one whose stages are all map-side.
  */
object Sinks {

  /** Parquet, hash-bucketed and sorted by `key` into the session
    * catalog as `name`. */
  def writeBucketed(df: DataFrame, name: String, key: String, buckets: Int): Unit =
    writeBucketed(df, name, Seq(key), buckets)

  /** Composite-key variant: a join whose equi-keys are exactly `keys`
    * reads this table exchange-free (the other side shuffles onto the
    * bucket layout).
    *
    * The input is repartitioned onto the bucket layout first:
    * `repartition(buckets, keys)` and `bucketBy` share the same
    * partition-id expression (pmod of the Murmur3 hash of the key
    * columns), so each write task holds exactly one bucket and emits
    * ONE file — without it every task writes a sliver of every
    * bucket, nTasks×nBuckets tiny files, which is the small-files
    * anti-pattern at write AND at every subsequent probe read (guide
    * §6). At deployment scale the bucket count is the file-count
    * knob; one shuffle per index build is the price of the layout
    * either way. */
  def writeBucketed(df: DataFrame, name: String, keys: Seq[String], buckets: Int): Unit =
    df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
      .write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(name)

  /** Plain partitioned parquet (directory layout pruning: queries
    * filtering on `partitionCol` scan only matching directories). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.partitionBy(partitionCol).mode("overwrite").parquet(path)

  /** The dataset each catalog table currently holds. The memo must
    * key on what the TABLE contains, not on every (table, dataset)
    * pair ever built: a per-pair memo marks dir A "built" after dir B
    * overwrites the same table name, and a later consumer for A would
    * silently probe B's index (caught by review: DedupSpec iterates
    * two datasets through one JVM). Not a per-dataset
    * [[Memo]] entry for the same reason: it tracks a TABLE's content,
    * one value per table name, retargeted when another dataset
    * overwrites the table. */
  private val current =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Session memo over [[writeBucketed]]: a no-op exactly when the
    * table already holds THIS dataset's build; a different dataset
    * rebuilds (overwrite) and retargets the memo — the production
    * shape, where index tables are written on ingest cadence and
    * queries only read them. `df` is by-name so skipped builds never
    * even construct the build plan. */
  def writeBucketedOnce(dataKey: String, name: String, keys: Seq[String],
                        buckets: Int)(df: => DataFrame): Unit = synchronized {
    if (!current.get(name).contains(dataKey)) {
      writeBucketed(df, name, keys, buckets)
      current.put(name, dataKey)
      // A rebuild (overwrite) discards any rows previously appended to
      // this table, so the append memo for it is stale for EVERY
      // dataset — including this one if the JVM cycles A → B → A:
      // without this purge the second pass through A rebuilds the base
      // index but skips A's delta append, leaving the shard incomplete.
      appended.keys.filter(_._1 == name).foreach(appended.remove)
    }
  }

  /** Cheap dataset fingerprint for [[writeBucketedOnce]] memo keys
    * over paths an INGEST SIMULATION may grow between two runs in one
    * session: a digest over every file's (path, length, mtime). A
    * grown OR in-place-rewritten dir changes the key, so the next
    * build call rebuilds instead of probing a stale index — aggregate
    * count/bytes/max-mtime alone would miss an equal-size rewrite
    * inside mtime resolution of a sibling file. Plain `dir` keys
    * assume per-session immutability — right for the static testdata
    * tables, wrong for any index whose base table is also a stream
    * source. */
  def dirFingerprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.exists()) Seq(f) else Seq.empty
    val fs = walk(new java.io.File(path)).sortBy(_.getPath)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    fs.foreach { f =>
      md.update(s"${f.getPath}#${f.length()}#${f.lastModified()};".getBytes("UTF-8"))
    }
    s"$path#${fs.size}#${md.digest().map("%02x".format(_)).mkString}"
  }

  /** Hex of the first 128 bits of `path`'s SHA-256: names a staging
    * dir keyed by a dataset path, where a 32-bit `hashCode` collides
    * (`…/Aa` and `…/BB` share one). */
  def pathDigest(path: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString

  /** The (table, dataset) deltas a catalog table currently holds.
    * Not a per-dataset [[Memo]] entry: it records a TABLE's content,
    * and [[writeBucketedOnce]] clears a table's entries when an
    * overwrite discards its appended rows. */
  private val appended =
    scala.collection.concurrent.TrieMap.empty[(String, String), Boolean]

  /** Append `df` into an existing bucketed table, once per (table,
    * dataset): new rows land in the SAME bucket layout (each task
    * hashes its rows to bucket files — no shuffle, no rewrite of the
    * existing files), so consumers keep their exchange-free probe
    * plans over the grown table. The incremental-index write path:
    * a shard of new items extends a persisted index at shard cost,
    * never corpus cost. Idempotent per dataset so re-running a
    * consumer query (Verify, both Bench passes) can't double-insert. */
  def appendBucketedOnce(dataKey: String, name: String, keys: Seq[String],
                         buckets: Int)(df: => DataFrame): Unit = synchronized {
    if (!appended.contains((name, dataKey))) {
      // same one-file-per-bucket repartition as [[writeBucketed]]:
      // an appended shard otherwise adds nTasks×nBuckets slivers
      df.repartition(buckets, keys.map(org.apache.spark.sql.functions.col): _*)
        .write
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .format("parquet")
        .mode("append")
        .saveAsTable(name)
      appended.put((name, dataKey), true)
    }
  }
}
