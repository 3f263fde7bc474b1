package graft.ckpt

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Snapshot-manifest checkpoint layer (SURVEY.md §7.6, north rule N9).
  *
  * Emulates the Iceberg semantics the north rule assumes (atomic snapshot
  * commit, per-partition lineage + metrics, resume point) over Parquet +
  * JSON manifests, since no Iceberg runtime ships in this image. The
  * interface is format-agnostic so a real catalog can be swapped in.
  *
  * Layout:
  * {{{
  *   <root>/<runId>/state/superstep=<k>/part-*.parquet
  *   <root>/<runId>/_manifests/v<k>.json      (atomic rename commit)
  * }}}
  *
  * A manifest is only visible once fully written (write to .tmp, then
  * ATOMIC_MOVE), so a killed run resumes from the last *committed*
  * superstep; a half-written state directory without its manifest is
  * ignored and overwritten on resume.
  */
final class CheckpointStore(spark: SparkSession, root: String, runId: String) {
  private val runDir = Paths.get(root, runId)
  private val manifestDir = runDir.resolve("_manifests")

  /** Manifest filename prefix per phase: push supersteps are v<k>.json
    * (the resume chain), other phases get their own letter so
    * latestSuperstep()/loadState never confuse a walk-score commit with
    * push state (ADVICE r2: a Fora walk commit at index k made
    * resume=true load (qid,vid,score) rows as push state). */
  private def prefixOf(phase: String): String =
    if (phase == "push") "v" else phase.take(1)

  def stateDir(superstep: Int, phase: String = "push"): String = {
    val base = if (phase == "push") runDir.resolve("state")
    else runDir.resolve(s"state_$phase")
    base.resolve(s"superstep=$superstep").toString
  }

  /** Write `state` for `superstep`, then commit the manifest atomically.
    * Returns the re-read DataFrame, which cuts the written plan's lineage
    * (SURVEY.md §4.2) for a caller that continues from it — only Fora's
    * walk-phase commit does; the push and PageRank loops commit from
    * RDDs whose lineage `localCheckpoint` already truncates. */
  def commit(superstep: Int, state: DataFrame,
             scalars: Map[String, Double],
             partMetrics: Seq[graft.graph.PartMetrics],
             params: Map[String, String],
             phase: String = "push"): DataFrame = {
    val dir = stateDir(superstep, phase)
    state.write.mode("overwrite").parquet(dir)
    Files.createDirectories(manifestDir)
    val json = CheckpointStore.manifestJson(runId, superstep, dir, scalars,
      partMetrics, params + ("phase" -> phase))
    val prefix = prefixOf(phase)
    val tmp = manifestDir.resolve(s"$prefix$superstep.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestDir.resolve(s"$prefix$superstep.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    spark.read.parquet(dir)
  }

  /** Highest committed superstep of `phase` (push by default — the only
    * phase whose manifests form the resume chain), if any. */
  def latestSuperstep(phase: String = "push"): Option[Int] = {
    if (!Files.isDirectory(manifestDir)) return None
    val prefix = prefixOf(phase)
    val vs = Files.list(manifestDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith(prefix) && s.endsWith(".json") &&
          s.stripPrefix(prefix).stripSuffix(".json").forall(_.isDigit) =>
        s.stripPrefix(prefix).stripSuffix(".json").toInt }
      .toSeq
    if (vs.isEmpty) None else Some(vs.max)
  }

  def loadState(superstep: Int, phase: String = "push"): DataFrame =
    spark.read.parquet(stateDir(superstep, phase))

  def manifestText(superstep: Int, phase: String = "push"): String =
    Files.readString(manifestDir.resolve(
      s"${prefixOf(phase)}$superstep.json"))

  /** Pull a committed scalar back out of a manifest. */
  def scalar(superstep: Int, key: String, phase: String = "push")
      : Option[Double] = {
    val t = manifestText(superstep, phase)
    val re = ("\"" + java.util.regex.Pattern.quote(key) +
      "\"\\s*:\\s*(-?[0-9.eE+-]+)").r
    re.findFirstMatchIn(t).map(_.group(1).toDouble)
  }

  def params(superstep: Int, phase: String = "push"): Map[String, String] = {
    val t = manifestText(superstep, phase)
    val re = """"param:([^"]+)"\s*:\s*"([^"]*)"""".r
    re.findAllMatchIn(t).map(m => m.group(1) -> m.group(2)).toMap
  }
}

object CheckpointStore {
  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  def manifestJson(runId: String, superstep: Int, dir: String,
                   scalars: Map[String, Double],
                   partMetrics: Seq[graft.graph.PartMetrics],
                   params: Map[String, String]): String = {
    val sb = new StringBuilder
    sb ++= s"""{"runId":"${esc(runId)}","superstep":$superstep,"""
    sb ++= s""""stateDir":"${esc(dir)}","""
    scalars.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s""""${esc(k)}":$v,""" }
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb ++= s""""param:${esc(k)}":"${esc(v)}",""" }
    sb ++= s""""partitions":["""
    sb ++= partMetrics.sortBy(_.part).map { m =>
      s"""{"part":${m.part},"rows":${m.rows},"pushes":${m.pushes},""" +
        s""""walks":${m.walks},"rsum":${m.rsum}}"""
    }.mkString(",")
    sb ++= "]}"
    sb.toString
  }
}
