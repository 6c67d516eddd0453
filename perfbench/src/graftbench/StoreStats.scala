package graftbench

import java.nio.file.{Files, Path, Paths}

/** Reads a sync destination's on-disk layout from outside: the history
  * table `delta/` (data dirs under `data/`, `_graft_log` manifests,
  * `_delta_log` mirror),
  * the auxiliary snapshot tables under `delta_load/` and the run log `log/`. */
object StoreStats {
  private def isMeta(p: Path) = { val n = p.getFileName.toString; n.startsWith("_") || n.startsWith(".") }

  /** store.dest_bytes.* — bytes per destination component, added to `m`
    * (so several destinations sum). */
  def destBytes(dest: String, m: Metrics): Unit = {
    val root = Paths.get(dest)
    val hist = root.resolve("delta")
    val graftLog = Disk.bytes(hist.resolve("_graft_log"))
    val deltaLog = Disk.bytes(hist.resolve("_delta_log"))
    m.add("store.dest_bytes.history", "bytes", Disk.bytes(hist) - graftLog - deltaLog)
    m.add("store.dest_bytes.graft_log", "bytes", graftLog)
    m.add("store.dest_bytes.delta_log", "bytes", deltaLog)
    m.add("store.dest_bytes.aux", "bytes", Disk.bytes(root.resolve("delta_load")))
    m.add("store.dest_bytes.log", "bytes", Disk.bytes(root.resolve("log")))
  }

  /** store.history_* — the shape of the SCD2 history's commit log. */
  def historyShape(dest: String, m: Metrics): Unit = {
    val hist = Paths.get(dest).resolve("delta")
    val manifests = Disk.children(hist.resolve("_graft_log"))
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
    m("store.history_versions", "count") = manifests.size
    m("store.history_dirs", "count") =
      Disk.children(hist.resolve("data")).count(p => Files.isDirectory(p) && !isMeta(p))
    m("store.manifest_bytes", "bytes") =
      manifests.sortBy(_.getFileName.toString).lastOption.map(Files.size(_).toDouble).getOrElse(0.0)
    m("store.delta_log_files", "count") = Disk.fileCount(hist.resolve("_delta_log"))
  }
}
