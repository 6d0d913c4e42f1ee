package graft.sources

import scala.io.{Codec, Source}

/** INI config loader (SURVEY.md §1.2 item 6;
  * /root/reference/example-config.ini:1-20, loaded with python ConfigParser
  * + ExtendedInterpolation at redcap-etl.py:33-36).
  *
  * Supports `[section]`, `key = value`, `;`/`#` comments, and `%(name)s`
  * interpolation resolved against the same section with [default] fallback
  * — exactly the surface the reference uses (`%(transform_config_dir)s`).
  * Driver-side only — config is control-plane.
  */
final case class IniConfig(sections: Map[String, Map[String, String]]) {
  def apply(section: String): Map[String, String] = sections.getOrElse(section, Map.empty)
  def get(section: String, key: String): Option[String] = apply(section).get(key)

  /** Value with %(name)s interpolation resolved against the same section,
    * falling back to [default] (ConfigParser semantics). */
  def resolved(section: String, key: String, depth: Int = 10): Option[String] = {
    val raw = get(section, key).orElse(get("default", key))
    raw.map { v =>
      if (depth <= 0) v
      else "%\\(([^)]+)\\)s".r.replaceAllIn(v, m =>
        scala.util.matching.Regex.quoteReplacement(
          resolved(section, m.group(1), depth - 1).getOrElse(m.matched)))
    }
  }
}

object IniConfig {
  def parse(text: String): IniConfig = {
    var current = "default"
    val acc = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.LinkedHashMap[String, String]]()
    acc(current) = scala.collection.mutable.LinkedHashMap()
    text.linesIterator.foreach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith(";") && !line.startsWith("#")) {
        val header = "^\\[([^\\]]+)\\]".r.findFirstMatchIn(line)
        if (header.isDefined) {
          // trailing text after ']' (e.g. an inline comment) is tolerated,
          // matching Python ConfigParser
          current = header.get.group(1).trim
          if (!acc.contains(current)) acc(current) = scala.collection.mutable.LinkedHashMap()
        } else line.split("=", 2) match {
          case Array(k, v) => acc(current)(k.trim) = v.trim
          case _ => // bare key without value — ignore, matching lenient parsers
        }
      }
    }
    IniConfig(acc.view.mapValues(_.toMap).toMap)
  }

  def load(path: String): IniConfig = {
    val src = Source.fromFile(path)(Codec.UTF8)
    try parse(src.mkString) finally src.close()
  }
}
