package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The commit step every materialized store shares: its meta sidecar is
  * written to a temp file in the store directory, then renamed over the
  * old one. The rename is ATOMIC, so a crashed or concurrent writer never
  * leaves a readable-but-partial sidecar — which is what lets the sidecar
  * double as the store's commit marker. Each store keeps its own body
  * format and read policy; the file holds exactly `body` in UTF-8. */
object Sidecar {
  def commit(dir: String, name: String, body: String): Unit = {
    val tmp = Files.createTempFile(Paths.get(dir), "_graft_meta", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
