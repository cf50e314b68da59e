package graft.ops

/** Engine configuration (reference skrub/_config.py:74-420 `get_config` /
  * `set_config` / `config_context`): process-wide defaults with
  * thread-local overrides, plus a scoped context form. Only the keys that
  * are meaningful for this engine are carried — notebook-display toggles
  * and the download cache dir have no equivalent here.
  *
  * Defaults mirror the reference: cardinality_threshold 40,
  * subsampling_seed 0, enable_subsampling "default", float_precision 3,
  * table_report association/plots thresholds 30.
  */
object Config {

  final case class Settings(
      cardinalityThreshold: Int = 40,
      subsamplingSeed: Long = 0L,
      enableSubsampling: String = "default", // default | force | disable
      floatPrecision: Int = 3,
      tableReportAssociationsThreshold: Int = 30,
      tableReportPlotsThreshold: Int = 30) {
    require(Seq("default", "force", "disable").contains(enableSubsampling),
      s"enableSubsampling must be default|force|disable, got $enableSubsampling")
  }

  @volatile private var global = Settings()
  private val local = new ThreadLocal[Option[Settings]] {
    override def initialValue(): Option[Settings] = None
  }

  /** Current settings: the thread-local override if one is active
    * (config_context / thread-scoped set), else the process-wide value.
    */
  def get: Settings = local.get.getOrElse(global)

  /** Process-wide update (reference `set_config`). */
  def set(s: Settings): Unit = global = s

  /** Run `body` with `s` active on THIS thread only (reference
    * `config_context`); restores the previous state even on failure.
    */
  def context[T](s: Settings)(body: => T): T = {
    val prev = local.get
    local.set(Some(s))
    try body finally local.set(prev)
  }

  /** Parse a boolean setting (a session conf or a table property): `true`
    * or `false`, any case. A bad value fails naming the key, not with a
    * bare `For input string`.
    */
  def parseBoolean(key: String, value: String): Boolean =
    value.toBooleanOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be true or false, got '$value'"))
}
