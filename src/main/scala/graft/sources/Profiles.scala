package graft.sources

/** Environment-profile configuration — the reference's config plumbing
  * (dag.py:17-35: an ENV variable selects a `[GCP-{ENV}]` section of
  * an INI-style config file read with ConfigParser; every path, table
  * and project name the pipeline touches comes from that section),
  * re-expressed as a dependency-free library:
  *
  *  - [[Profiles.parse]] reads the ConfigParser dialect the reference
  *    file actually uses: `[section]` headers, `key = value` entries
  *    (values optionally quoted), `#`/`;` comments, blank lines.
  *  - [[Profiles.load]] resolves one ENVIRONMENT: defaults (the
  *    sectionless head and a `[default]` section if present) overlaid
  *    by the named section, overlaid by caller-supplied overrides —
  *    deployments pass `sys.env` filtered to a prefix so an operator
  *    can hotfix one path without editing the file (the Airflow
  *    Variable override idiom).
  *
  * The engine itself never hard-wires storage: operators take paths
  * and table names as parameters; a profile is how a DEPLOYMENT feeds
  * them. Driver-side by design — config resolution is orchestration,
  * not data movement.
  */
object Profiles {

  final case class Profile(env: String, settings: Map[String, String]) {
    def get(key: String): Option[String] = settings.get(key)
    def required(key: String): String = settings.getOrElse(key,
      throw new NoSuchElementException(
        s"profile '$env' has no setting '$key' " +
          s"(available: ${settings.keys.toSeq.sorted.mkString(", ")})"))
    def long(key: String): Long = {
      val v = required(key)
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"profile '$env' setting '$key' is not a number: '$v'")
      }
    }
    def bool(key: String): Boolean = required(key).toLowerCase match {
      case "true" | "1" | "yes" | "on" => true
      case "false" | "0" | "no" | "off" => false
      case v => throw new IllegalArgumentException(
        s"profile '$env' setting '$key' is not a boolean: '$v'")
    }
  }

  private val SectionRe = """^\[\s*([^\]]+?)\s*\]$""".r
  private val EntryRe = """^([A-Za-z0-9_.\-]+)\s*=\s*(.*)$""".r

  /** Parse the ConfigParser dialect into section → (key → value).
    * Keys before any section header land in section "". Values strip
    * one level of matching single/double quotes; inline comments are
    * NOT stripped from unquoted values (ConfigParser semantics —
    * `#` is only a comment at line start). Later duplicate keys win,
    * as ConfigParser resolves them. */
  def parse(text: String): Map[String, Map[String, String]] = {
    val out = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.LinkedHashMap[String, String]]()
    var section = ""
    out(section) = scala.collection.mutable.LinkedHashMap()
    text.linesIterator.zipWithIndex.foreach { case (raw, i) =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#") && !line.startsWith(";")) {
        line match {
          case SectionRe(name) =>
            section = name
            if (!out.contains(section))
              out(section) = scala.collection.mutable.LinkedHashMap()
          case EntryRe(key, rawValue) =>
            val v = rawValue.trim
            val unq =
              if (v.length >= 2 &&
                  ((v.head == '"' && v.last == '"') ||
                    (v.head == '\'' && v.last == '\'')))
                v.substring(1, v.length - 1)
              else v
            out(section)(key) = unq
          case _ => throw new IllegalArgumentException(
            s"unparseable config line ${i + 1}: '$raw'")
        }
      }
    }
    out.map { case (k, m) => k -> m.toMap }.toMap
  }

  /** Resolve environment `env`: defaults ("" head + `[default]`) <
    * `[${sectionPrefix}${env}]` < `overrides`. Fails loudly when the
    * environment's section is absent — a typo'd ENV must not silently
    * run on defaults (dag.py's KeyError behavior). */
  def load(text: String, env: String, sectionPrefix: String = "",
      overrides: Map[String, String] = Map.empty): Profile = {
    val sections = parse(text)
    val sectionName = s"$sectionPrefix$env"
    val named = sections.getOrElse(sectionName,
      throw new NoSuchElementException(
        s"config has no [$sectionName] section " +
          s"(sections: ${sections.keys.filter(_.nonEmpty).toSeq.sorted
            .mkString(", ")})"))
    val defaults = sections.getOrElse("", Map.empty) ++
      sections.getOrElse("default", Map.empty)
    Profile(env, defaults ++ named ++ overrides)
  }

  /** Environment-variable overrides in the `GRAFT_` convention:
    * `GRAFT_RAW_DIR=x` overrides setting `raw_dir`. */
  def envOverrides(env: Map[String, String],
      prefix: String = "GRAFT_"): Map[String, String] =
    env.collect { case (k, v) if k.startsWith(prefix) =>
      k.stripPrefix(prefix).toLowerCase -> v
    }
}
