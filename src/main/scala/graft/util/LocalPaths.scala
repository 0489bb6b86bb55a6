package graft.util

import java.nio.file.{Path, Paths}

/** Local directories given by the user as a bare path or a `file:` URI. */
object LocalPaths {

  /** The local path of `dir`. `Paths.get` alone would take `file:///x`
    * for a relative path named `file:`, which never exists. Any other
    * scheme is refused with `refusal(scheme)` as the message.
    */
  def of(dir: String)(refusal: String => String): Path = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    uri.getScheme match {
      case null => Paths.get(dir)
      case "file" => Paths.get(uri.getPath)
      case other => throw new IllegalArgumentException(refusal(other))
    }
  }
}
