package perfbench

/** Every metric the benchmark prints, by name, unit and direction. The
  * names in `BENCHMARK.json` must equal these (MetricsSpec checks it). */
object Metrics {
  final case class Def(name: String, unit: String, better: String)

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("first_pass_s", "s", "lower"),
    Def("wall_s", "s", "lower"),
    Def("items_per_s", "1/s", "higher"),
    Def("cpu_s", "s", "lower"),
    Def("retained_heap_mb", "MB", "lower"),
    Def("at_rest_bytes_per_item", "B", "lower"))

  /** Layer spans, in pipeline order; `pass` is the root of every pass. */
  val Spans: Seq[String] = Seq("sources.header", "sources.samples", "argo.summary",
    "argo.interp", "store.write", "store.read", "atlas.ts", "atlas.eape_r14",
    "atlas.eape_t25", "sink.netcdf", "text.shingle", "text.minhash", "text.q36", "pass")

  /** Counters every span reports. */
  val Counters: Seq[(String, String, String)] = Seq(
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"), ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"), ("util", "ratio", "higher"),
    ("shuffle_mb", "MB", "lower"), ("spill_mb", "MB", "lower"), ("gc_s", "s", "lower"))

  /** Layer counts; a workload reports the ones of the layers it runs and
    * 0 for the rest. */
  val Counts: Seq[Def] = Seq(
    Def("sources.profiles", "count", "higher"),
    Def("sources.file_mb", "MB", "lower"),
    Def("argo.interp.valid_ratio", "ratio", "higher"),
    Def("store.mb", "MB", "lower"),
    Def("atlas.pairs", "count", "lower"),
    Def("atlas.pairs_per_profile", "ratio", "lower"),
    Def("sink.netcdf_mb", "MB", "lower"),
    Def("text.candidates", "count", "lower"),
    Def("text.pairs_out", "count", "higher"),
    Def("text.yield", "ratio", "higher"),
    Def("text.recall", "ratio", "higher"))

  val PerLayer: Seq[Def] =
    (for (s <- Spans; (c, u, b) <- Counters) yield Def(s"$s.$c", u, b)) ++
      Seq(Def("pass.self_s", "s", "lower")) ++ Counts ++
      Seq(Def("tracing_overhead_s", "s", "lower"))

  def unitOf(name: String): String =
    (EndToEnd ++ PerLayer).find(_.name == name).map(_.unit)
      .getOrElse(throw new IllegalArgumentException(s"undeclared metric $name"))
}
