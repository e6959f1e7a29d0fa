package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** One commit manifest of a [[BucketedStateTable]], parsed: the
  * `_commits/c<id>.txt` file whose rename is the table's atomic commit
  * point. Its companion is the ONE place the manifest format, the
  * table's path convention and the manifest read live — the instance
  * writer, the DSv2 `graft-state` scan and catalog, `t$history`, the
  * change feed and the probes all take their fields from this value.
  *
  * The format is plain text, one `key=value` per line, split at the
  * first `=` (so the JSON bodies parse back verbatim), in this order:
  * {{{
  *   commit=<id>
  *   numBuckets=<n>                   # the layout: count, bucket and
  *   bucketCols=<a,b>                 #   merge-key columns
  *   keyCols=<a,b>
  *   keepCommits=<n>                  # the owner's retention policy
  *   retentionFloorMillis=<ms>
  *   splitFactor=<f or -f>            # relayout commits only, with the
  *   splitBasedOn=<id>                #   base manifest they rewrote
  *   statsCols=<a,b>                  # only when zone maps are recorded
  *   schema=<StructType JSON>         # the row schema, one line
  *   zmap.<bucket>=<ZoneMaps JSON>    # per-bucket zone map, by bucket
  *   <bucket>=<data commit>,<file>,<bytes>   # bucket pointers, by bucket
  * }}}
  * A bucket pointer names the file of the data commit that holds the
  * bucket and the bucket's share of that file's bytes, so a reader
  * opens the files without listing a directory. Several buckets may
  * name one file (a packed commit writes a small table, or the files
  * it touches, as one file per write task): a file is named whole or
  * not at all — every
  * bucket it holds points to it, or none does — and the shares of the
  * buckets naming it sum to its size, so every sum over buckets stays
  * the table's bytes. A bare `<bucket>=<data commit>` is a pointer written
  * before the flat file layout: the bucket is the directory
  * `data/c<commit>/__bucket=<bucket>/`, read by listing it.
  * The recorded schema lets a committed-but-EMPTY snapshot (a drained
  * queue) still present its shape; the layout and retention lines let a
  * handle-less writer (the DSv2 SQL surface) rebuild the exact table
  * ([[BucketedStateTable.fromLayout]]) without pruning history the
  * owner keeps.
  *
  * Every line but `commit=` is optional on read: manifests written
  * before a line existed stay readable, and a missing line is None (or
  * empty) here. [[render]] writes exactly the lines a value carries, so
  * `parse(render(m)) == m` and `render(parse(text)) == text` for every
  * manifest this format produces. Lines with an unknown key are
  * ignored. */
final case class StateManifest(
    commitId: Long,
    numBuckets: Option[Int] = None,
    bucketCols: Option[Seq[String]] = None,
    keyCols: Option[Seq[String]] = None,
    keepCommits: Option[Int] = None,
    retentionFloorMillis: Option[Long] = None,
    splitFactor: Option[Int] = None,
    splitBasedOn: Option[Long] = None,
    statsCols: Seq[String] = Nil,
    schemaJson: Option[String] = None,
    // per-bucket zone maps as OPAQUE one-line JSON payloads, kept
    // verbatim so a republished manifest carries them byte for byte; a
    // bucket absent here is un-statted and pruning must keep it
    bucketStats: Map[Int, String] = Map.empty,
    buckets: Map[Int, Long] = Map.empty,
    // the file each pointer names, by bucket; a bucket absent here has a
    // bare pointer (the directory layout)
    files: Map[Int, StateManifest.DataFile] = Map.empty) {

  def render: String = {
    val sb = new StringBuilder
    def line(k: String, v: Any): Unit =
      sb.append(k).append('=').append(v).append('\n')
    line("commit", commitId)
    numBuckets.foreach(line("numBuckets", _))
    bucketCols.foreach(c => line("bucketCols", c.mkString(",")))
    keyCols.foreach(c => line("keyCols", c.mkString(",")))
    keepCommits.foreach(line("keepCommits", _))
    retentionFloorMillis.foreach(line("retentionFloorMillis", _))
    splitFactor.foreach(line("splitFactor", _))
    splitBasedOn.foreach(line("splitBasedOn", _))
    if (statsCols.nonEmpty) line("statsCols", statsCols.mkString(","))
    schemaJson.foreach(line("schema", _))
    bucketStats.toSeq.sortBy(_._1).foreach { case (b, j) => line(s"zmap.$b", j) }
    buckets.toSeq.sorted.foreach { case (b, c) =>
      line(b.toString, files.get(b).fold(c.toString)(f => s"$c,${f.name},${f.bytes}"))
    }
    sb.toString
  }

  /** The recorded row schema. */
  lazy val schema: Option[StructType] = schemaJson.map(StateManifest.schemaOf)

  /** The decoded zone maps (a payload that fails to decode counts as
    * absent). */
  lazy val zoneStats: Map[Int, ZoneMaps.BucketStat] =
    bucketStats.flatMap { case (b, j) => ZoneMaps.decode(j).map(b -> _) }

  /** The layout a writer must reproduce to mutate the table; None when
    * the manifest predates the `keyCols=` line. */
  def layout: Option[BucketedStateTable.Layout] =
    for (kc <- keyCols; nb <- numBuckets)
      yield BucketedStateTable.Layout(kc, bucketCols.getOrElse(kc), nb,
        keepCommits, retentionFloorMillis, statsCols)

  /** The file bucket `b` points to: its data commit and name. */
  private def fileOf(b: Int): Option[(Long, String)] =
    files.get(b).map(f => (buckets(b), f.name))

  /** Every named file's size and the buckets it holds. */
  private lazy val held: Map[(Long, String), (Long, Seq[Int])] =
    files.toSeq.groupBy { case (b, _) => fileOf(b).get }.map { case (k, bs) =>
      k -> (bs.map(_._2.bytes).sum, bs.map(_._1).sorted)
    }

  /** Where the `only` buckets this manifest holds (default: all) live
    * under the table `root`: each file once, with the shares of the
    * requested buckets it holds, in bucket order. A legacy bucket
    * directory is one location of unknown size. */
  def locations(root: Path,
      only: Iterable[Int] = buckets.keys): Seq[StateManifest.Location] = {
    val (named, legacy) = only.toSeq.distinct.filter(buckets.contains).partition(files.contains)
    val inFiles = named.groupBy(b => fileOf(b).get).map { case (k @ (c, name), bs) =>
      StateManifest.Location(new Path(StateManifest.dataCommitDir(root, c), name),
        Some(held(k)._1), bs.map(b => b -> files(b).bytes).toMap, held(k)._2.size)
    }
    val inDirs = legacy.map(b => StateManifest.Location(
      StateManifest.bucketDir(root, buckets(b), b), None, Map(b -> 0L), 1))
    (inFiles ++ inDirs).toSeq.sortBy(_.shares.keys.min)
  }

  /** `dirty` and every bucket that shares a file with one of them: the
    * buckets a commit rewriting `dirty` must write at least, so that no
    * file stays named by only some of its buckets. */
  def closure(dirty: Iterable[Int]): Seq[Int] = {
    val fs = dirty.flatMap(fileOf).toSet
    (dirty ++ fs.flatMap(held(_)._2)).toSeq.distinct.sorted
  }

  /** The bucket columns as the recorded schema types them and the
    * bucket count: what a reader needs to compute a row's bucket. None
    * for a manifest that records no schema or layout. */
  def bucketing: Option[(Seq[org.apache.spark.sql.types.StructField], Int)] =
    for (s <- schema; nb <- numBuckets;
         cols <- bucketCols.orElse(keyCols);
         fields = cols.flatMap(c => s.fields.find(_.name == c))
         if fields.size == cols.size)
      yield (fields, nb)

  /** The buckets a scan constrained by `filters` must read, by bucket
    * hash and zone maps ([[ZoneMaps.surviving]]) — always a superset of
    * the matching set. None when the manifest records no schema or
    * bucket count (nothing to evaluate bounds against). */
  def survivingBuckets(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Option[Set[Int]] =
    for (s <- schema; nb <- numBuckets)
      yield ZoneMaps.surviving(filters, s,
        bucketCols.orElse(keyCols).getOrElse(Nil), nb, zoneStats,
        buckets.keySet)
}

object StateManifest {

  /** The column a write carries each row's bucket in; directories of
    * the legacy layout are named by it. */
  private[graft] val BucketCol = "__bucket"

  /** The file a bucket pointer names, in its data commit's directory. */
  final case class DataFile(name: String, bytes: Long)

  /** One data file of a snapshot read: its path and `length`, the
    * requested buckets it holds with their byte `shares`, and how many
    * buckets it `holds` in all (more than requested: a read of it must
    * keep only the requested buckets' rows). A legacy bucket directory
    * has no `length` and its share is 0 until listed. */
  final case class Location(path: Path, length: Option[Long],
      shares: Map[Int, Long], holds: Int) {
    def partial: Boolean = shares.size < holds
  }

  def parse(text: String): StateManifest = {
    val kv = Map.newBuilder[String, String]
    val stats = Map.newBuilder[Int, String]
    val ptrs = Map.newBuilder[Int, Long]
    val files = Map.newBuilder[Int, DataFile]
    text.linesIterator.filter(_.nonEmpty).foreach { l =>
      val i = l.indexOf('=')
      require(i > 0, s"malformed manifest line: $l")
      val k = l.substring(0, i)
      val v = l.substring(i + 1)
      if (k.head.isDigit) v.split(',') match {
        case Array(c) => ptrs += k.toInt -> c.toLong
        case Array(c, name, bytes) =>
          ptrs += k.toInt -> c.toLong
          files += k.toInt -> DataFile(name, bytes.toLong)
        case _ => throw new IllegalArgumentException(s"malformed bucket pointer: $l")
      }
      else if (k.startsWith("zmap.")) stats += k.stripPrefix("zmap.").toInt -> v
      else kv += k -> v
    }
    val h = kv.result()
    def cols(k: String) = h.get(k).map(_.split(",").toSeq)
    StateManifest(
      h.getOrElse("commit",
        throw new IllegalArgumentException("manifest has no commit= line")).toLong,
      h.get("numBuckets").map(_.toInt),
      cols("bucketCols"),
      cols("keyCols"),
      h.get("keepCommits").map(_.toInt),
      h.get("retentionFloorMillis").map(_.toLong),
      h.get("splitFactor").map(_.toInt),
      h.get("splitBasedOn").map(_.toLong),
      cols("statsCols").getOrElse(Nil),
      h.get("schema"),
      stats.result(),
      ptrs.result(),
      files.result())
  }

  private[graft] def schemaOf(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  // ---- path convention ----------------------------------------------
  //   root/_commits/c00000003.txt                  manifest of commit 3
  //   root/data/c00000003/b00042-t1-a17.parquet    bucket 42 as commit 3 wrote it
  //   root/data/c00000003/p-t1-a17.parquet         the buckets task 1 of a packed commit held
  //   root/data/c00000003/__bucket=42/part-*       the same, in the legacy layout

  private[graft] def commitsDir(root: Path): Path = new Path(root, "_commits")

  private[graft] def manifestPath(root: Path, id: Long): Path =
    new Path(commitsDir(root), f"c$id%08d.txt")

  /** Where a manifest is written before the rename that publishes it. */
  private[graft] def tempManifestPath(root: Path, id: Long): Path =
    new Path(commitsDir(root), f".c$id%08d.txt.tmp")

  private[graft] def dataDir(root: Path): Path = new Path(root, "data")

  private[graft] def dataCommitDir(root: Path, commit: Long): Path =
    new Path(dataDir(root), f"c$commit%08d")

  /** A legacy-layout bucket directory. */
  private[graft] def bucketDir(root: Path, commit: Long, bucket: Int): Path =
    new Path(dataCommitDir(root, commit), s"$BucketCol=$bucket")

  /** The name of bucket `bucket`'s file as task `partition` (task
    * attempt `attempt`, unique within the application) writes it: one
    * file per bucket and attempt, flat in the commit's directory. */
  private[graft] def bucketFileName(bucket: Int, partition: Int, attempt: Long): String =
    f"b$bucket%05d-t$partition-a$attempt.parquet"

  /** The name of the one file task `partition` (task attempt `attempt`)
    * of a packed commit writes, holding every bucket the task holds. */
  private[graft] def packedFileName(partition: Int, attempt: Long): String =
    f"p-t$partition-a$attempt.parquet"

  private val BucketFile = "b(\\d+)-t\\d+-a\\d+\\.parquet".r

  /** The commit id a `data/` entry named `name` holds, if it is one. */
  private[graft] def dataCommitOf(name: String): Option[Long] =
    if (name.length > 1 && name.startsWith("c") && name.drop(1).forall(_.isDigit))
      Some(name.drop(1).toLong)
    else None

  /** The bucket a data path holds: its `__bucket=N` segment (legacy
    * layout) or its bucket file's name, if either. */
  private[graft] def bucketOf(path: String): Option[Int] = {
    val segments = path.split('/')
    segments.collectFirst {
      case s if s.startsWith(s"$BucketCol=") =>
        s.substring(BucketCol.length + 1).toInt
    }.orElse(segments.lastOption.collect { case BucketFile(b) => b.toInt })
  }

  // ---- reading ------------------------------------------------------

  /** `(commitId, FileStatus)` of every published manifest under `root`,
    * oldest → newest, from one directory listing. */
  private[graft] def list(fs: FileSystem, root: Path): Seq[(Long, FileStatus)] =
    listWithTemps(fs, root)._1

  /** [[list]] plus the temp manifests (`.c<id>.txt.tmp`) the same
    * listing finds: a writer that crashed between creating one and
    * renaming it leaves it behind. */
  private[graft] def listWithTemps(fs: FileSystem,
      root: Path): (Seq[(Long, FileStatus)], Seq[(Long, FileStatus)]) = {
    val dir = commitsDir(root)
    def idOf(n: String, prefix: String, suffix: String): Option[Long] =
      if (n.length > prefix.length + suffix.length && n.startsWith(prefix) &&
          n.endsWith(suffix) && n.drop(prefix.length).dropRight(suffix.length).forall(_.isDigit))
        Some(n.drop(prefix.length).dropRight(suffix.length).toLong)
      else None
    val all = if (!fs.exists(dir)) Nil else fs.listStatus(dir).toSeq
    def named(prefix: String, suffix: String) = all.flatMap { s =>
      idOf(s.getPath.getName, prefix, suffix).map(_ -> s)
    }.sortBy(_._1)
    (named("c", ".txt"), named(".c", ".txt.tmp"))
  }

  /** The committed snapshot of the table at `path`: the newest
    * manifest, or the manifest of `commit` (time travel), parsed — one
    * listing and at most one read. None when the table never committed;
    * a `commit` that is not retained throws `NoSuchElementException`. */
  def snapshot(conf: Configuration, path: String,
      commit: Option[Long] = None): Option[StateManifest] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val listed = list(fs, root)
    val chosen = commit match {
      case Some(c) => listed.find(_._1 == c).getOrElse(
        throw new NoSuchElementException(
          s"commit $c is not retained at $path " +
            s"(retained: ${listed.map(_._1).mkString(", ")})"))
      case None => listed.lastOption.getOrElse(return None)
    }
    Some(load(fs, root, chosen))
  }

  /** Manifests younger than this bypass the cache: a withdrawn id is
    * republished at the head within moments, and a filesystem with
    * second-granularity mtimes could alias the two when the byte
    * lengths also match. */
  private[graft] val SettleMillis = 5000L

  private val CacheEntries = 256

  /** `(qualified root, id, length, mtime)` → parsed manifest, JVM-wide,
    * least recently used out first. A published manifest never changes;
    * a WITHDRAWN id can be reused by a later publish, but never with the
    * same length and mtime once settled, so the key is re-read-safe.
    * This keeps the change feed's relayout probe and its admission
    * estimate — both walk every manifest of a commit range — and the
    * retention pass a lookup instead of a GET per manifest. */
  private val cache =
    new java.util.LinkedHashMap[(String, Long, Long, Long), StateManifest](
        64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (String, Long, Long, Long), StateManifest]): Boolean =
        size() > CacheEntries
    }

  /** The listed manifest `m` under `root`, parsed: from the cache once
    * it has settled, otherwise read. A failed read or parse throws and
    * is never cached. */
  private[graft] def load(fs: FileSystem, root: Path,
      m: (Long, FileStatus)): StateManifest = {
    val (id, st) = m
    if (System.currentTimeMillis() - st.getModificationTime < SettleMillis)
      return read(fs, st.getPath)
    val key = (fs.makeQualified(root).toString, id, st.getLen,
      st.getModificationTime)
    cache.synchronized(Option(cache.get(key))).getOrElse {
      val parsed = read(fs, st.getPath)
      cache.synchronized(cache.put(key, parsed))
      parsed
    }
  }

  private def read(fs: FileSystem, p: Path): StateManifest = {
    val in = fs.open(p)
    parse(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close())
  }
}
