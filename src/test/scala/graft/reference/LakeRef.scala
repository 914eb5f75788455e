package graft.reference

import graft.lake.LakeTable

/** Test-only reference form of the apply path's file pruning: the
  * driver-side scan that [[LakeTable.pruneFilesDistributed]] replaced. */
object LakeRef {

  /** Files whose [minRepo, maxRepo] range may contain any of the given
    * repos, and the rest: (touched, retained). Metadata-scale (file
    * list), evaluated without reading data. */
  def pruneFiles(snap: LakeTable#Snapshot, changedRepos: Set[String])
      : (Seq[LakeTable#FileEntry], Seq[LakeTable#FileEntry]) =
    snap.files.partition(f => changedRepos.exists(r => r >= f.minRepo && r <= f.maxRepo))
}
