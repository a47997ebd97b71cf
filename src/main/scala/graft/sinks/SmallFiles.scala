package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** Whole-file UTF-8 reads and writes for the sinks' markers and
  * manifests: files of a few lines, read and written in one piece.
  */
private[graft] object SmallFiles {

  def write(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8))
    finally out.close()
  }

  def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8)
    finally in.close()
  }
}
