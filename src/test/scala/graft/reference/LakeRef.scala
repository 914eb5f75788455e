package graft.reference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Test-only reference forms of lake paths that production replaced: the
  * manifest-list scan that [[LakeTable.pruneFilesDistributed]] replaced,
  * and the aggregate delete resolution that [[LakeTable.undeleted]]
  * replaced. */
object LakeRef {

  /** Files whose [minRepo, maxRepo] range may contain any of the given
    * repos, and the rest: (touched, retained). Metadata-scale (file
    * list), evaluated without reading data. */
  def pruneFiles(snap: LakeTable#Snapshot, changedRepos: Set[String])
      : (Seq[LakeTable#FileEntry], Seq[LakeTable#FileEntry]) =
    snap.files.partition(f => changedRepos.exists(r => r >= f.minRepo && r <= f.maxRepo))

  /** Merge-on-read delete resolution in its aggregate form: the per-key
    * maximum (seq, commit) over the delete entries, left-joined back to
    * the data by key; a row survives iff its key has no entry or the
    * maximum is ≤ the row. */
  def undeleted(data: DataFrame, deletes: DataFrame): DataFrame = {
    val dmax = deletes
      .groupBy(col("repo"), col("path"))
      .agg(max(struct(col("seq").as("s"), col("commit").as("c"))).as("_dmax"))
    data.join(dmax, Seq("repo", "path"), "left")
      .filter(col("_dmax").isNull ||
        struct(col("seq").as("s"), col("commit").as("c")) >= col("_dmax"))
      .drop("_dmax")
  }
}
