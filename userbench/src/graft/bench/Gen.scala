package graft.bench

import java.security.MessageDigest
import java.sql.Timestamp
import java.time.LocalDateTime

import scala.util.Random

import graft.schema.Odm

/** Seeded input generators. Every generator is a pure function of the
  * seed (and of a sub-stream index for data that arrives during a run),
  * so the same seed gives the same bytes and the engine only ever sees
  * generated inputs. `digest` folds a generator's output into one hash
  * for the benchmark's self-check.
  */
object Gen {
  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L ^ (stream * 0xC2B2AE3D27D4EB4FL))

  def digest(parts: Iterator[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.toString.getBytes("UTF-8")))
    md.digest().take(12).map("%02x".format(_)).mkString
  }

  def cents(v: Double): Double = math.round(v * 100) / 100.0

  // ---- ODM time series ---------------------------------------------------

  val Epoch: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)
  val StepMinutes = 15

  final case class OdmDims(sites: Seq[Odm.Site], variables: Seq[Odm.Variable],
      methods: Seq[Odm.Method], sources: Seq[Odm.Source],
      qcLevels: Seq[Odm.QualityControlLevel])

  private val VarCodes = Seq("WaterTemp_EXO", "pH", "SpCond", "ODO",
    "TurbMed", "Level", "BattVolt", "ChlA", "fDOM", "BGA")

  def odmDims(nSites: Int, nVars: Int, nSources: Int,
      nQc: Int): OdmDims = OdmDims(
    (1 to nSites).map(i => Odm.Site(i, f"LR_S$i%02d", s"Logan River site $i",
      41.7 + i * 0.01, -111.8 - i * 0.01, Some(1400.0 + i), Some("UT"),
      Some("Cache"))),
    (1 to nVars).map(i => Odm.Variable(i, VarCodes(i - 1),
      s"Variable ${VarCodes(i - 1)}", 100 + i, "Surface water", 102,
      "Continuous", "Water Quality", -9999.0)),
    Seq(Odm.Method(1, "Sonde reading")),
    (1 to nSources).map(i => Odm.Source(i, s"Org $i",
      s"Source $i description", s"Contact $i", s"Citation $i")),
    (0 until nQc).map(i => Odm.QualityControlLevel(i, i.toString,
      s"QC level $i")))

  /** One ODM value row per (site, variable, 15-minute step) for the
    * given chunk keys and step range. About 3% of cells are missing and
    * 1% carry the variable's NoDataValue; values are in cents, as the
    * reference's loggers record them. `idBase` keeps ValueIDs unique
    * across the base table and its deltas.
    */
  def odmValues(seed: Long, stream: Long,
      chunks: Seq[(Int, Int, Int)], nVars: Int, fromStep: Int,
      toStep: Int, idBase: Int): Seq[Odm.DataValue] = {
    val r = rng(seed, stream)
    var id = idBase
    val out = Seq.newBuilder[Odm.DataValue]
    for ((site, source, qc) <- chunks; step <- fromStep until toStep;
         v <- 1 to nVars) {
      val u = r.nextDouble()
      if (u >= 0.03) {
        val value =
          if (u < 0.04) -9999.0
          else cents(10 * v + 5 * math.sin(step / 96.0 * 2 * math.Pi + site) +
            r.nextGaussian())
        val t = Epoch.plusMinutes(step.toLong * StepMinutes)
        id += 1
        out += Odm.DataValue(id, value, None, t, -7.0, t.plusHours(7),
          site, v, None, None, "nc", None, 1, source, None, None, qc)
      }
    }
    out.result()
  }

  // ---- QC edit series ------------------------------------------------------

  /** A site's series for the edit workload: regular 15-minute points
    * with planted defects the technician's script selects — gaps (runs
    * of missing points), spikes, negative dips and a slow drift window.
    */
  final case class QcRow(ValueID: Int, DataValue: Double,
      LocalDateTime: Timestamp, SiteID: Int, VariableID: Int,
      QualifierID: Option[Int], MethodID: Int, SourceID: Int,
      QualityControlLevelID: Int)

  def qcValues(seed: Long, nSites: Int, nVars: Int,
      nSteps: Int): Seq[QcRow] = {
    val r = rng(seed, 7)
    var id = 0
    val out = Seq.newBuilder[QcRow]
    for (site <- 1 to nSites; v <- 1 to nVars) {
      val gaps = Seq.fill(3)(r.nextInt(nSteps - 40) + 20)
      val gapLen = 8 + r.nextInt(8)
      var level = 10.0 * v
      for (step <- 0 until nSteps
           if !gaps.exists(g => step >= g && step < g + gapLen)) {
        level += r.nextGaussian() * 0.05
        val u = r.nextDouble()
        val value =
          if (u < 0.004) level + 40 + r.nextDouble() * 10 // spike
          else if (u < 0.006) -5 - r.nextDouble()          // dip below 0
          else level + r.nextGaussian() * 0.2
        id += 1
        out += QcRow(id, cents(value), Timestamp.valueOf(
          Epoch.plusMinutes(step.toLong * StepMinutes)), site, v, None, 1,
          1, 0)
      }
    }
    out.result()
  }

  // ---- training-data corpus -------------------------------------------------

  private val Words = Array.tabulate(600)(i =>
    Iterator.iterate(i + 7)(x => x / 5).takeWhile(_ > 0)
      .map(x => ('a' + (x * 7 + i) % 26).toChar).mkString + "e")

  /** Documents `from until to`: most are fresh word sequences; about one
    * in eight is a near-duplicate (a few words swapped) of an earlier
    * document, the shape a scraped corpus has. */
  def doc(seed: Long, id: Long): String = {
    val r = rng(seed, 1000000L + id)
    if (id >= 16 && r.nextDouble() < 0.125) {
      val src = doc(seed, r.nextLong(id).abs % id)
      val w = src.split(' ')
      (0 until 2).foreach(_ => w(r.nextInt(w.length)) =
        Words(r.nextInt(Words.length)))
      w.mkString(" ")
    } else Seq.fill(24 + r.nextInt(16))(Words(r.nextInt(Words.length)))
      .mkString(" ")
  }

  val Dim = 64
  private val Clusters = 24

  private def center(seed: Long, c: Int): Array[Double] = {
    val r = rng(seed, 2000000L + c)
    Array.fill(Dim)(r.nextGaussian())
  }

  /** 64-dim embeddings around 24 seeded cluster centres; about one in
    * eight is a near-copy of an earlier vector. */
  def vec(seed: Long, id: Long): Array[Float] = {
    val r = rng(seed, 3000000L + id)
    if (id >= 16 && r.nextDouble() < 0.125) {
      val src = vec(seed, r.nextLong(id).abs % id)
      src.map(x => (x + r.nextGaussian() * 0.01).toFloat)
    } else {
      val c = center(seed, r.nextInt(Clusters))
      c.map(x => (0.3 * x + r.nextGaussian()).toFloat)
    }
  }
}
