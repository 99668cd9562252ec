package graft.model

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}

/** The input half of a [[FitCache]] key: what a frame computes, and
  * over which bytes.
  *
  * r7 ADVICE item 1: keying on the 32-bit canonicalized-plan
  * `semanticHash` alone gives a ~2⁻³² silent-collision budget — far
  * weaker than the 64-bit budgets documented elsewhere in the
  * catalog, and a collision would hand one corpus another corpus's
  * trained artifact with no detection. Keys are driver-side and
  * model-sized, so the fix is free: digest the FULL canonicalized
  * plan string (md5, 128 bits) and append the semanticHash on top.
  * Canonicalization normalizes expression ids and aliases, so two
  * plan-identical frames still share a key; two different corpora
  * collide only if md5(planString) AND semanticHash both collide.
  *
  * The same digest folds in every scanned file's (path, length,
  * mtime), so a file rewritten in place is a different key. The
  * listing is the one the relation's FileIndex took when the frame was
  * read and keeps in memory: reading it makes no filesystem call.
  */
object PlanKey {
  def of(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    val p = plan.canonicalized
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(p.toString.getBytes(UTF_8))
    files(plan).foreach(f => md.update(f.getBytes(UTF_8)))
    s"${java.util.HexFormat.of.formatHex(md.digest)}:${p.semanticHash()}"
  }

  private def files(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case i: PartitioningAwareFileIndex => i.allFiles() }
      .flatMap(_.map(s =>
        s"|${s.getPath}:${s.getLen}:${s.getModificationTime}").sorted)
}
