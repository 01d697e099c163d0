package graft

import java.nio.file.{Files, Path, StandardCopyOption}

/** Small state files that are always written whole: the resume page
  * state, the extraction watermark, the bench's partial results. */
object KeyFiles {

  /** Replace `path` with `content`: write a hidden temp sibling, then
    * rename it over the key, so a crash mid-save leaves the previous
    * content (and at worst a stray `.<name>…tmp` sibling that no reader
    * opens), never an empty or cut file. */
  def writeAtomic(path: Path, content: String): Unit = {
    val key = path.toAbsolutePath
    val tmp = Files.createTempFile(key.getParent, s".${key.getFileName}", ".tmp")
    try {
      Files.writeString(tmp, content)
      Files.move(tmp, key,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
