package graft.sources

/** Runtime resolution for DEPLOY.md's scale knobs (verdict r14 #7):
  * the band-geometry overrides, bucket caps, candidate budgets and
  * sample moduli documented there are compiled defaults a deployment
  * could previously only move by recompiling. This object is the
  * resolution layer the operator entry points consult for their
  * DEFAULT parameter values, precedence lowest → highest:
  *
  *   compiled default  <  installed profile setting  <  env override
  *
  * - Profile: a section of the INI-dialect config [[Profiles]] already
  *   parses (the reference's ENV-sectioned ConfigParser plumbing,
  *   dag.py:17-35); a deployment loads its section once at startup and
  *   `install`s it.
  * - Env override: `GRAFT_` + key uppercased with dots → underscores
  *   (`dedup.max_bucket` → `GRAFT_DEDUP_MAX_BUCKET`) — the operator
  *   hotfix path, same idiom as the profile loader's override map.
  *
  * Every EXPLICIT operator parameter still wins over all three — the
  * knob layer only feeds defaults, so a pinned call site (a spec, an
  * oracle face with a fixed geometry) is never moved by configuration.
  * Correctness gates run with no profile installed and no GRAFT_* env,
  * so gate behavior is the compiled defaults bit-for-bit.
  *
  * Knob keys in use (cross-referenced from DEPLOY.md's coverage
  * audit table, which marks every named tunable resolved-at-runtime
  * yes/no):
  *  - `dedup.max_bucket`      (Dedup.MaxBucket backstop cap)
  *  - `dedup.bands`, `dedup.rows_per_band` (MinHash geometry override;
  *    BOTH must be set — a half-specified geometry is refused)
  *  - `dedup.geometry_occupancy` (autoGeometry widening knee)
  *  - `dedup.simhash_chunks`  (SimHash subset-split override)
  *  - `dedup.bloom_items`, `dedup.bloom_bits` (bloom pre-screen size)
  *  - `emb.lsh_occupancy`     (hyperplane-LSH occupancy knee)
  *  - `knn.candidates`        (ADC retrieve-then-rerank budget)
  *  - `knn.audit_queries`     (recall-audit query-count bound)
  *  - `graph.sample_mod`      (DOULION edge-sample modulus)
  */
object Knobs {

  @volatile private var installed: Option[Profiles.Profile] = None

  /** Test seam: when non-null, replaces `sys.env` for resolution.
    * Production never sets it. */
  @volatile private[graft] var envForTest: Map[String, String] = null

  /** Install the deployment profile knobs resolve through (a section
    * already loaded via [[Profiles.load]]). Idempotent; latest wins. */
  def install(p: Profiles.Profile): Unit = { installed = Some(p) }

  /** Drop the installed profile — resolution falls back to compiled
    * defaults (+ env). */
  def clear(): Unit = { installed = None }

  /** `dedup.max_bucket` → `GRAFT_DEDUP_MAX_BUCKET`. Locale-pinned:
    * the default-locale toUpperCase maps 'i' → 'İ' under a Turkish
    * JVM locale, silently breaking GRAFT_* resolution for every key
    * containing an 'i' (dedup.simhash_chunks, knn.candidates). */
  def envKey(key: String): String =
    "GRAFT_" + key.toUpperCase(java.util.Locale.ROOT).replace('.', '_')

  private def raw(key: String): Option[String] = {
    val env = { val e = envForTest; if (e ne null) e else sys.env }
    env.get(envKey(key)).orElse(installed.flatMap(_.get(key)))
  }

  private def num[T](key: String, v: String, f: String => T): T =
    try f(v.trim) catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"knob '$key' (or ${envKey(key)}) is not a number: '$v'")
    }

  def optLong(key: String): Option[Long] =
    raw(key).map(v => num(key, v, _.toLong))

  def optInt(key: String): Option[Int] =
    raw(key).map(v => num(key, v, _.toInt))

  def long(key: String, default: Long): Long =
    optLong(key).getOrElse(default)

  def int(key: String, default: Int): Int =
    optInt(key).getOrElse(default)
}
