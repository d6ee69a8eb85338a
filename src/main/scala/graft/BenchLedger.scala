package graft

import java.nio.file.{Files, Path}

/** The bench contention-adjudication ledger, factored out of `Bench` so
  * the mechanism is spec-gated rather than asserted.
  *
  * Round 10 exposed the blind spot this closes: `Bench`'s auto-rerun
  * judged each query against the trailing median of prior DRIVER
  * records (`BENCH_r*.json`), which carry only the 30 slowest queries
  * each — so a first-time-slow simple query (that round: s09 5.68 s,
  * q17 5.59 s, q26 5.07 s, all contention phantoms) had no median and
  * escaped the rerun. `Bench` now appends its FULL per-query map here
  * after every run (`append`) and medians over the ledger plus the
  * driver records (`medians`), so after one recorded run EVERY query
  * has a baseline to be judged against.
  */
object BenchLedger {

  /** Ledger filename, relative to the working directory `Bench` runs in. */
  val FileName = "BENCH_detail.jsonl"

  /** A best-of-reps time is a contention-phantom suspect when it
    * exceeds its trailing median by the adjudication factor AND is
    * large enough to matter (sub-half-second queries triple on JIT
    * noise alone). No median recorded yet => nothing to judge against
    * => no rerun.
    *
    * The factor is sample-aware (the r11 escape: x82 at 1.9x and x11
    * at 1.5x of their well-established medians slipped under a flat
    * 2.5x and read as regressions until hand-adjudicated): with >= 5
    * recorded samples the per-query variance is known, so the trigger
    * tightens to 2.0x; with fewer, 2.5x still guards against honest
    * early-round drift being rerun forever.
    */
  def needsRerun(v: Double, stat: Option[(Double, Int)]): Boolean =
    stat.exists { case (m, n) =>
      v > (if (n >= 5) 2.0 else 2.5) * m && v > 0.5
    }

  /** Back-compat single-median form: unknown sample count => loose 2.5x. */
  def needsRerun(v: Double, median: Option[Double])(
      implicit d: DummyImplicit): Boolean =
    needsRerun(v, median.map(m => (m, 0)))

  /** Append one run's full per-query map as a single (sf, cpus,
    * data-dir)-tagged JSON line: `queries` holds the warm seconds (what
    * [[stats]] medians), `cold` each query's first timed pass, which
    * carries its memo builds. `dataDir` is the RESOLVED corpus
    * directory — the round-16 lesson: the 10x and 100x scale corpora
    * both end in ".../sf1", so basename-keyed entries from different
    * decades collided and a 100x run tripped the rerun detector against
    * 10x medians on nearly every query. Failures are swallowed: the
    * ledger is an optimization, never a reason to fail a bench.
    */
  def append(dir: Path, sf: String, cpus: Int, results: Map[String, Double],
      dataDir: Option[String] = None, cold: Map[String, Double] = Map.empty): Unit =
    try {
      val dirTag = dataDir.map(d => s""""dir":"$d",""").getOrElse("")
      def obj(m: Map[String, Double]): String = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
      val coldTag = if (cold.isEmpty) "" else s""","cold":${obj(cold)}"""
      val line = s"""{"sf":"$sf",$dirTag"cpus":$cpus,"queries":${obj(results)}$coldTag}\n"""
      Files.write(dir.resolve(FileName), line.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND): Unit
    } catch { case _: Throwable => () }

  /** Per-query median seconds from prior runs at the SAME scale factor
    * AND parallelism.
    *
    * Primary source: the ledger (full coverage). Supplement: the
    * trailing rounds' driver records (`BENCH_r*.json`, 30 slowest
    * queries each) — merged only for sf0.1 at the driver's own
    * local[32] (their `sf` field is an absolute path, not a name).
    * Entries at a different sf OR cpus are skipped: an sf0.01 iteration
    * run must not drag sf0.1 medians down, and a local[4] debug run
    * must not make every parallelism-bound query look 2.5x-slow at
    * local[32] (r11 measured q29 at 4.3 s under local[4] vs 1.9 s under
    * local[32] — same plan, fewer cores). Legacy ledger lines without a
    * cpus field predate this tag and were all recorded at the driver's
    * 32. Missing or malformed files/lines contribute nothing, so a
    * fresh checkout simply reruns nothing.
    */
  def medians(dir: Path, sf: String, cpus: Int = 32): Map[String, Double] =
    stats(dir, sf, cpus).map { case (k, (m, _)) => k -> m }

  /** Per-query (median seconds, sample count) — the sample count feeds
    * the adaptive rerun factor in [[needsRerun]].
    *
    * Line matching: a dir-tagged line (everything written since r17)
    * matches by RESOLVED DATA DIR when the caller supplies one —
    * basenames are not unique across scale corpora (".../sf1" names
    * both the 10x and the 100x decade). Legacy untagged lines match by
    * (sf, cpus) as before; the one known-poisoned legacy key ("sf1",
    * whose recorded samples mix decades) was migrated out of the
    * on-disk ledger when the dir tag landed.
    */
  def stats(dir: Path, sf: String, cpus: Int = 32,
      dataDir: Option[String] = None): Map[String, (Double, Int)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    def add(qs: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (qs.isObject) qs.properties().forEach { e =>
        if (e.getValue.isNumber)
          times.updateWith(e.getKey)(v =>
            Some(e.getValue.asDouble :: v.getOrElse(Nil))): Unit
      }
    val ledger = dir.resolve(FileName)
    if (Files.isReadable(ledger))
      Files.readAllLines(ledger).forEach { line =>
        try {
          val node = om.readTree(line)
          val lineCpus = if (node.has("cpus")) node.path("cpus").asInt() else 32
          val keyMatch = (node.has("dir"), dataDir) match {
            // dir-tagged line + dir-aware caller: the dir IS the key
            case (true, Some(d)) => node.path("dir").asText() == d
            // otherwise fall back to the sf-name key (tagged lines also
            // carry sf, so a legacy medians() caller still sees them)
            case _ => node.path("sf").asText() == sf
          }
          if (keyMatch && lineCpus == cpus) add(node.path("queries"))
        } catch { case _: Throwable => () }
      }
    if (sf == "sf0.1" && cpus == 32) {
      val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
      files.foreach { f =>
        try add(om.readTree(f).path("parsed").path("queries"))
        catch { case _: Throwable => () }
      }
    }
    times.map { case (k, vs) =>
      k -> (vs.sorted.apply(vs.size / 2), vs.size) }.toMap
  }
}
