package graft.kg.table

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Per-bucket lineage row written with every snapshot commit
  * (the north rule's "per-partition lineage rows and extraction-count
  * metrics"; semantics mirror the reference checkpoint stats,
  * run_iltur.py:625-695). */
final case class BucketLineage(
    bucket: Int,
    stage: String,
    inputRows: Long,
    outputRows: Map[String, Long],
    extractionCounts: Map[String, Long],
    contentHash: String
)

final case class Snapshot(
    id: Long,
    parentId: Long, // -1 for first
    buckets: Seq[Int],
    lineage: Seq[BucketLineage],
    committedAt: String
)

/** Iceberg-semantics-emulating snapshot/manifest commit log over a local or
  * DFS path (no Iceberg jars exist in this sandbox — SURVEY.md §4.3).
  *
  * Layout:
  * {{{
  *   <root>/<table>/bucket=<n>/part-....parquet  -- data, partition-pruned reads
  *   <root>/_graft_log/snapshot-<id>.json     -- create-if-absent manifests
  *   <root>/_graft_layout.json                -- the root's bucket count
  * }}}
  *
  * Guarantees re-expressed from the reference's checkpoint protocol
  * (run_iltur.py:581-740): atomic manifest writes (tmp + hard link, which
  * never replaces an existing manifest, so concurrent writers each land
  * under their own id), corrupt manifests skipped on load (self-healing
  * recovery), resume = the set difference of all buckets minus committed
  * buckets. A real Iceberg catalog can replace this class behind the same
  * method surface.
  *
  * `root` is a plain local path or a `file:` URI, the two forms whose
  * tables Spark writes to the same local directory. Any other scheme is
  * refused at construction, before anything is written: the log goes
  * through `java.nio`, which would put it on the driver's local disk apart
  * from the tables (ROADMAP direction 6 moves it to the Hadoop FileSystem).
  */
final class SnapshotStore(root: String) {

  private val mapper = new ObjectMapper()
  private val rootDir: Path =
    Try(new java.net.URI(root)).toOption.flatMap(u => Option(u.getScheme).map(u -> _)) match {
      case None => Paths.get(root).toAbsolutePath
      case Some((u, "file")) => Paths.get(u)
      case Some((_, scheme)) => throw new IllegalArgumentException(
        s"table root $root: the snapshot log takes a local path or a file: URI, " +
          s"not a $scheme: root (ROADMAP direction 6)")
    }
  private def logDir: Path = rootDir.resolve("_graft_log")
  // beside the log, not in it: losing the log loses lineage, not the layout
  private def layoutFile: Path = rootDir.resolve("_graft_layout.json")

  /** Write `bytes` to a uniquely named temp file beside `dst`, then publish
    * it as `dst` with a hard link: `dst` appears complete or not at all, and
    * an existing `dst` is never replaced. False when `dst` already exists. */
  private def publish(dst: Path, bytes: Array[Byte]): Boolean = {
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      Files.write(tmp, bytes)
      Files.createLink(dst, tmp)
      true
    } catch {
      case _: FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** The bucket count recorded for this root, if a run has created it. */
  def bucketCount: Option[Int] =
    if (!Files.exists(layoutFile)) None
    else {
      val n = mapper.readTree(new String(Files.readAllBytes(layoutFile), "UTF-8"))
      require(n.has("buckets"), s"malformed layout record $layoutFile")
      Some(n.get("buckets").asInt())
    }

  /** Record `n` as this root's bucket count unless one is recorded already;
    * returns the recorded count (the first writer wins). */
  def recordBucketCount(n: Int): Int = {
    Files.createDirectories(rootDir)
    publish(layoutFile, s"""{"buckets":$n}""".getBytes("UTF-8"))
    bucketCount.get
  }

  def snapshots: Seq[Snapshot] = {
    if (!Files.isDirectory(logDir)) return Nil
    val files = Files.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.matches("snapshot-\\d+\\.json"))
      .toList.sortBy(_.getFileName.toString.stripPrefix("snapshot-").stripSuffix(".json").toLong)
    files.flatMap { f =>
      // corrupt manifest → skip (reference drops corrupt case JSONs and
      // recomputes, run_iltur.py:592-605)
      Try(parseSnapshot(new String(Files.readAllBytes(f), "UTF-8"))).toOption
    }
  }

  def completedBuckets: Set[Int] = snapshots.flatMap(_.buckets).toSet

  /** Next id counts every manifest file, valid or corrupt — a corrupt
    * manifest's id is never reused, so a half-written file can't be silently
    * replaced and history stays append-only. */
  def nextId: Long = {
    if (!Files.isDirectory(logDir)) return 0L
    val ids = Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("snapshot-\\d+\\.json"))
      .map(_.stripPrefix("snapshot-").stripSuffix(".json").toLong)
      .toList
    if (ids.isEmpty) 0L else ids.max + 1
  }

  /** Atomically commit a snapshot covering `lineage.map(_.bucket)`. A writer
    * that loses the race for an id retries under the next id and parent. */
  @scala.annotation.tailrec
  def commit(lineage: Seq[BucketLineage]): Snapshot = {
    Files.createDirectories(logDir)
    val id = nextId
    val snap = Snapshot(
      id = id,
      parentId = snapshots.filter(_.id < id).lastOption.map(_.id).getOrElse(-1L),
      buckets = lineage.map(_.bucket),
      lineage = lineage,
      committedAt = java.time.Instant.now().toString)
    if (publish(logDir.resolve(s"snapshot-$id.json"), renderSnapshot(snap).getBytes("UTF-8"))) snap
    else commit(lineage)
  }

  // --- JSON (hand-rolled via Jackson trees: no scala module needed) ---------

  private def renderSnapshot(s: Snapshot): String = {
    val rootNode = mapper.createObjectNode()
    rootNode.put("id", s.id)
    rootNode.put("parentId", s.parentId)
    rootNode.put("committedAt", s.committedAt)
    val bucketsArr = rootNode.putArray("buckets")
    s.buckets.foreach(bucketsArr.add)
    val linArr = rootNode.putArray("lineage")
    for (l <- s.lineage) {
      val n = linArr.addObject()
      n.put("bucket", l.bucket)
      n.put("stage", l.stage)
      n.put("inputRows", l.inputRows)
      n.put("contentHash", l.contentHash)
      val outN = n.putObject("outputRows")
      l.outputRows.toList.sortBy(_._1).foreach { case (k, v) => outN.put(k, v) }
      val cntN = n.putObject("extractionCounts")
      l.extractionCounts.toList.sortBy(_._1).foreach { case (k, v) => cntN.put(k, v) }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(rootNode)
  }

  private def parseSnapshot(json: String): Snapshot = {
    val n = mapper.readTree(json)
    require(n.has("id") && n.has("buckets") && n.has("lineage"), "malformed snapshot")
    Snapshot(
      id = n.get("id").asLong(),
      parentId = n.get("parentId").asLong(),
      buckets = n.get("buckets").elements().asScala.map(_.asInt()).toSeq,
      lineage = n.get("lineage").elements().asScala.map { l =>
        BucketLineage(
          bucket = l.get("bucket").asInt(),
          stage = l.get("stage").asText(),
          inputRows = l.get("inputRows").asLong(),
          outputRows = l.get("outputRows").properties().asScala
            .map(e => e.getKey -> e.getValue.asLong()).toMap,
          extractionCounts = l.get("extractionCounts").properties().asScala
            .map(e => e.getKey -> e.getValue.asLong()).toMap,
          contentHash = l.get("contentHash").asText())
      }.toSeq,
      committedAt = n.get("committedAt").asText())
  }
}
