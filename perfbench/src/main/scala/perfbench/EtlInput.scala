package perfbench

import graft.rentals.PipelineConfig
import java.time.{LocalDate, YearMonth}
import scala.collection.mutable

/** Shape of one generated wide rent-index CSV (ZORI layout: one row per
  * region, one column per month).
  *
  * @param regions   distinct regions
  * @param months    month columns, ending at [[EtlInput.lastMonth]]
  * @param states    distinct states
  * @param stateSkew Zipf exponent of the region-to-state draw (0 = uniform)
  * @param nullShare share of month cells left empty
  * @param dupShare  share of region rows written twice
  * @param rentScale multiplier on every rent (1 keeps rents near $800-$6,700)
  */
final case class EtlShape(
    regions: Int,
    months: Int,
    states: Int = 50,
    stateSkew: Double = 1.0,
    nullShare: Double = 0.05,
    dupShare: Double = 0.01,
    rentScale: Double = 1.0)

/** Per-year sums over output rows; comparing them with the table the
  * program wrote checks every row's MoM change, rank and rent at once.
  */
final case class YearSums(
    rows: Long,
    rankSum: Long,
    rankWeighted: Long,
    momCount: Long,
    momCentsSum: Long,
    momCentsWeighted: Long,
    rentCentsSum: Long,
    outOfRange: Long) {
  def +(o: YearSums): YearSums = YearSums(
    rows + o.rows, rankSum + o.rankSum, rankWeighted + o.rankWeighted, momCount + o.momCount,
    momCentsSum + o.momCentsSum, momCentsWeighted + o.momCentsWeighted, rentCentsSum + o.rentCentsSum,
    outOfRange + o.outOfRange)
}

object YearSums {
  val zero: YearSums = YearSums(0, 0, 0, 0, 0, 0, 0, 0)

  /** The weight a row's rank and MoM change carry in the weighted sums. */
  def rankWeight(regionId: Int): Long = regionId % 97 + 1
  def momWeight(month: LocalDate): Long = month.getMonthValue.toLong + 1
}

/** What one CSV should turn into, computed without Spark. */
final case class Expected(
    rowsIn: Long,
    droppedNull: Long,
    droppedDup: Long,
    rowsOut: Long,
    byYear: Map[Int, YearSums])

/** One generated input: the CSV text plus the plain-Scala expectation. */
final case class EtlBatch(csv: String, expected: Expected, rawBytes: Long)

/** Seeded generator of wide rent-index CSVs, and the calculator that gives
  * the expected pipeline output for each.
  *
  * Every cell is a pure function of (seed, version, region, month), so the
  * same seed gives byte-identical files. A later version re-draws rents,
  * null cells and duplicates but never a region's state: successive
  * snapshots describe the same regions, and a refresh that overwrites
  * `(StateName, year)` partitions would otherwise leave a moved region's
  * old rows behind.
  */
object EtlInput {
  val lastMonth: YearMonth = YearMonth.of(2024, 12)

  final case class Region(id: Int, name: String, state: String, baseCents: Long)

  // SplitMix64 finalizer: a well-mixed 64-bit value per key tuple
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  private def key(parts: Long*): Long = parts.foldLeft(0x1234567L)((h, p) => mix(h ^ p))
  private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble

  private val SaltState = 1L
  private val SaltBase = 2L
  private val SaltRent = 3L
  private val SaltNull = 4L
  private val SaltDup = 5L

  def stateName(i: Int): String = f"S$i%02d"

  /** Regions with Zipf-skewed states, fixed for a seed whatever the version. */
  def regions(seed: Long, shape: EtlShape): IndexedSeq[Region] = {
    val weights = (1 to shape.states).map(k => 1.0 / math.pow(k.toDouble, shape.stateSkew))
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    (0 until shape.regions).map { i =>
      val id = 100000 + i
      val u = unit(key(seed, SaltState, id.toLong))
      val s = cum.indexWhere(u < _) match { case -1 => shape.states - 1; case k => k }
      val base = math.round((80000L + (unit(key(seed, SaltBase, id.toLong)) * 400000).toLong) * shape.rentScale)
      Region(id, s"Region $i", stateName(s), base)
    }
  }

  /** The latest `n` month-end dates, oldest first. */
  def latestMonths(n: Int): IndexedSeq[LocalDate] =
    (n - 1 to 0 by -1).map(k => lastMonth.minusMonths(k.toLong).atEndOfMonth())

  /** Rent cell in cents, or None for an empty cell. */
  def cell(seed: Long, version: Int, r: Region, m: LocalDate, shape: EtlShape): Option[Long] = {
    val mi = m.getYear * 12L + m.getMonthValue
    if (unit(key(seed, SaltNull, version.toLong, r.id.toLong, mi)) < shape.nullShare) None
    else {
      val trend = 1.0 + 0.002 * (mi - 2014 * 12)
      val noise = 0.9 + 0.2 * unit(key(seed, SaltRent, version.toLong, r.id.toLong, mi))
      Some(math.round(r.baseCents * trend * noise))
    }
  }

  def isDuplicated(seed: Long, version: Int, r: Region, shape: EtlShape): Boolean =
    unit(key(seed, SaltDup, version.toLong, r.id.toLong)) < shape.dupShare

  // rents are positive: whole dollars, a point, two digits of cents
  private def fmtCents(c: Long): String = {
    val cents = c % 100
    (c / 100).toString + (if (cents < 10) ".0" else ".") + cents
  }

  /** Snapshot `version` of the wide CSV `shape` describes; `config` gives
    * the DQ gate's rent range the expectation counts against.
    */
  def generate(seed: Long, version: Int, shape: EtlShape, config: PipelineConfig = PipelineConfig()): EtlBatch = {
    val rs = regions(seed, shape)
    val monthDates = latestMonths(shape.months)
    val sb = new StringBuilder
    sb.append("RegionID,SizeRank,RegionName,RegionType,StateName")
    monthDates.foreach(m => sb.append(',').append(m.toString))
    sb.append('\n')
    val cells = rs.map(r => monthDates.map(m => cell(seed, version, r, m, shape)))
    def line(i: Int): Unit = {
      val r = rs(i)
      sb.append(r.id).append(',').append(i + 1).append(',').append(r.name)
        .append(",msa,").append(r.state)
      cells(i).foreach { c => sb.append(','); c.foreach(v => sb.append(fmtCents(v))) }
      sb.append('\n')
    }
    rs.indices.foreach(line)
    // duplicates go after every original row, away from their twin
    val dups = rs.indices.filter(i => isDuplicated(seed, version, rs(i), shape))
    dups.foreach(line)
    val csv = sb.toString
    EtlBatch(csv, expect(rs, monthDates, cells, dups, config), csv.length.toLong)
  }

  private def expect(
      rs: IndexedSeq[Region],
      months: IndexedSeq[LocalDate],
      cells: IndexedSeq[IndexedSeq[Option[Long]]],
      dups: Seq[Int],
      config: PipelineConfig): Expected = {
    // the rent the program sees is the double the CSV text parses to: the
    // double nearest to cents / 100, which is what the division rounds to
    val rows = (rs.indices ++ dups).flatMap { i =>
      months.indices.map(j => Calculator.LongRow(rs(i).id, rs(i).state, months(j), cells(i)(j).map(_ / 100.0)))
    }
    Calculator.expected(rows, config)
  }
}

/** The pipeline's semantics in plain Scala, over long-format rows: clean
  * drops null rents, dedup keeps one row per (region, month), MoM is the
  * change from the region's previous surviving month rounded half-up to 2
  * places, and rank is 1 + the rows of the same (state, month) with a
  * strictly higher rent.
  */
object Calculator {
  final case class LongRow(regionId: Int, state: String, month: LocalDate, rent: Option[Double])
  final case class OutRow(row: LongRow, mom: Option[Double], rank: Long)

  def clean(rows: Seq[LongRow]): Seq[LongRow] = rows.filter(_.rent.isDefined)

  def dedup(rows: Seq[LongRow]): Seq[LongRow] = {
    val seen = mutable.HashSet.empty[(Int, LocalDate)]
    rows.filter(r => seen.add((r.regionId, r.month)))
  }

  def momAndRank(rows: Seq[LongRow]): Seq[OutRow] = {
    val desc = rows.groupBy(r => (r.state, r.month)).map { case (k, rs) =>
      k -> rs.map(_.rent.get).sorted(Ordering.Double.TotalOrdering.reverse).toArray
    }
    def rank(r: LongRow): Long = {
      val a = desc((r.state, r.month))
      val rent = r.rent.get
      var lo = 0; var hi = a.length // rows strictly above `rent`
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (a(mid) > rent) lo = mid + 1 else hi = mid }
      lo + 1L
    }
    rows.groupBy(_.regionId).values.toSeq.flatMap { rs =>
      val sorted = rs.sortBy(_.month.toEpochDay)
      sorted.indices.map { k =>
        val mom = if (k == 0) None else {
          val p = sorted(k - 1).rent.get
          if (p == 0.0) None
          else Some(BigDecimal(((sorted(k).rent.get - p) / p) * 100)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        OutRow(sorted(k), mom, rank(sorted(k)))
      }
    }
  }

  /** Expected output of `rows`; out-of-range rents are counted against
    * the DQ gate's inclusive range in `config`.
    */
  def expected(rows: Seq[LongRow], config: PipelineConfig = PipelineConfig()): Expected = {
    val cleaned = clean(rows)
    val deduped = dedup(cleaned)
    val byYear = mutable.Map.empty[Int, YearSums]
    momAndRank(deduped).foreach { o =>
      val momCents = o.mom.map(v => math.round(v * 100))
      val s = YearSums(
        rows = 1, rankSum = o.rank, rankWeighted = o.rank * YearSums.rankWeight(o.row.regionId),
        momCount = momCents.size.toLong, momCentsSum = momCents.getOrElse(0L),
        momCentsWeighted = momCents.getOrElse(0L) * YearSums.momWeight(o.row.month),
        rentCentsSum = math.round(o.row.rent.get * 100),
        outOfRange = if (o.row.rent.get < config.rentMin || o.row.rent.get > config.rentMax) 1 else 0)
      val y = o.row.month.getYear
      byYear(y) = byYear.getOrElse(y, YearSums.zero) + s
    }
    Expected(
      rowsIn = rows.size.toLong,
      droppedNull = (rows.size - cleaned.size).toLong,
      droppedDup = (cleaned.size - deduped.size).toLong,
      rowsOut = deduped.size.toLong,
      byYear = byYear.toMap)
  }

  /** The standard DQ gate's verdict on a table with per-year sums `table`,
    * check name -> passed. Clean leaves no null rent and dedup one row per
    * key, so those two checks pass on any pipeline output.
    */
  def verdicts(table: Map[Int, YearSums], config: PipelineConfig): Map[String, Boolean] = Map(
    "null_percentage_median_rent" -> true,
    "row_count" -> (table.values.map(_.rows).sum >= config.minRows),
    "range_median_rent" -> (table.values.map(_.outOfRange).sum == 0L),
    s"uniqueness_${config.uniqueKeys.mkString("_")}" -> true)
}
