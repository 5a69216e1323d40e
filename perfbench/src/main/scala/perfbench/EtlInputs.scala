package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}

/** Seeded generator for the four inputs of the paper's pipeline: the
  * members, expeditions and peaks CSVs at their full contract widths (78, 66
  * and 25 columns) and the World Bank indicators in their long form.
  *
  * The content comes from `variant(seed)` and the row order of every file
  * from the seed itself, so one seed always writes the same bytes while the
  * expected star-schema fingerprints (which ignore row order) stay a short
  * committed table, one entry per variant.
  *
  * The data is built to give each transform real work: duplicate EXPIDs for
  * the keep-first dedup, misspelled and blank citizenships for the fuzzy
  * match, heights and ages outside the bins, namesakes within an expedition,
  * and World Bank series with leading, interior and trailing null runs plus
  * whole-null indicators.
  */
object EtlInputs {
  val variants = 4
  def variant(seed: Long): Int = java.lang.Math.floorMod(seed, variants.toLong).toInt

  /** Row counts at the reference scale; the World Bank form has
    * countries x years x 5 indicators rows.
    */
  val members = 15000
  val expeditions = 1925
  val duplicateExpeditions = 90
  val peaks = 480
  val countries = 217
  val years: Range = 1960 to 2023

  final case class Paths(members: String, expeditions: String, peaks: String, worldBank: String)

  def paths(dir: String): Paths = Paths(s"$dir/members.csv", s"$dir/expeditions.csv",
    s"$dir/peaks.csv", s"$dir/world_bank.csv")

  // ------------------------------------------------------------- contracts
  val memberColumns: Seq[String] = Seq(
    "EXPID", "MEMBID", "PEAKID", "MYEAR", "MSEASON", "FNAME", "LNAME", "SEX",
    "YOB", "CALCAGE", "CITIZEN", "STATUS", "RESIDENCE", "OCCUPATION", "LEADER",
    "DEPUTY", "BCONLY", "NOTTOBC", "SUPPORT", "DISABLED", "HIRED", "SHERPA",
    "TIBETAN", "MSUCCESS", "MCLAIMED", "MDISPUTED", "MSOLO", "MTRAVERSE",
    "MSKI", "MPARAPENTE", "MSPEED", "MHIGHPT", "MPERHIGHPT", "MSMTDATE1",
    "MSMTDATE2", "MSMTDATE3", "MSMTTIME1", "MSMTTIME2", "MSMTTIME3",
    "MROUTE1", "MROUTE2", "MROUTE3", "MASCENT1", "MASCENT2", "MASCENT3",
    "MO2USED", "MO2NONE", "MO2CLIMB", "MO2DESCENT", "MO2SLEEP", "MO2MEDICAL",
    "MO2NOTE", "DEATH", "DEATHDATE", "DEATHTIME", "DEATHTYPE", "DEATHHGTM",
    "DEATHCLASS", "AMSMORTAL", "WEATHER", "INJURY", "INJURYDATE",
    "INJURYTIME", "INJURYTYPE", "INJURYHGTM", "DEATHNOTE", "MSMTBID",
    "MSMTTERM", "HCN", "MCHKSUM", "MSMTNOTE1", "MSMTNOTE2", "MSMTNOTE3",
    "MEMBERMEMO", "NECROLOGY", "MSMTAGE", "DEATHRTE", "MTERMNOTE")

  val expeditionColumns: Seq[String] = Seq(
    "EXPID", "PEAKID", "YEAR", "SEASON", "HOST", "ROUTE1", "ROUTE2", "ROUTE3",
    "ROUTE4", "NATION", "LEADERS", "SPONSOR", "SUCCESS1", "SUCCESS2",
    "SUCCESS3", "SUCCESS4", "ASCENT1", "ASCENT2", "ASCENT3", "ASCENT4",
    "CLAIMED", "DISPUTED", "COUNTRIES", "APPROACH", "BCDATE", "SMTDATE",
    "SMTTIME", "SMTDAYS", "TOTDAYS", "TERMDATE", "TERMREASON", "TERMNOTE",
    "HIGHPOINT", "TRAVERSE", "SKI", "PARAPENTE", "CAMPS", "ROPE",
    "TOTMEMBERS", "SMTMEMBERS", "MDEATHS", "TOTHIRED", "SMTHIRED", "HDEATHS",
    "NOHIRED", "O2USED", "O2NONE", "O2CLIMB", "O2DESCENT", "O2SLEEP",
    "O2MEDICAL", "O2TAKEN", "O2UNKWN", "OTHERSMTS", "CAMPSITES", "ROUTEMEMO",
    "ACCIDENTS", "ACHIEVMENT", "AGENCY", "COMRTE", "STDRTE", "PRIMRTE",
    "PRIMMEM", "PRIMREF", "PRIMID", "CHKSUM")

  val peakColumns: Seq[String] = Seq(
    "PEAKID", "PKNAME", "PKNAME2", "LOCATION", "HEIGHTM", "HEIGHTF", "HIMAL",
    "REGION", "OPEN", "UNLISTED", "TREKKING", "TREKYEAR", "RESTRICT", "PHOST",
    "PSTATUS", "PEAKMEMO", "PYEAR", "PSEASON", "PEXPID", "PSMTDATE",
    "PCOUNTRY", "PSUMMITERS", "PSMTNOTE", "REFERMEMO", "PHOTOMEMO")

  val worldBankColumns: Seq[(String, DataType)] = Seq(
    "COUNTRYCODE" -> StringType, "COUNTRYNAME" -> StringType,
    "INDICATORCODE" -> StringType, "YEAR" -> IntegerType, "VALUE" -> DoubleType)

  def stringSchema(cols: Seq[String]): StructType =
    StructType(cols.map(StructField(_, StringType)))
  val worldBankSchema: StructType =
    StructType(worldBankColumns.map { case (n, t) => StructField(n, t) })

  // ------------------------------------------------------------- generator
  /** Writes the four files under `dir` and returns their paths. */
  def write(dir: String, seed: Long): Paths = {
    new File(dir).mkdirs()
    val rng = new Random(1000003L * variant(seed) + 17)
    val order = new Random(seed)
    val p = paths(dir)

    val names = countryNames(rng)
    val codes = countryCodes(rng)
    writeCsv(p.worldBank, worldBankColumns.map(_._1), order, worldBankRows(rng, names, codes))

    val peakIds = (0 until peaks).map(i => code4(i))
    writeCsv(p.peaks, peakColumns, order, peakIds.map(peakRow(rng, _)))

    // EXPID = PEAKID + year + serial; members read their year back from it
    val expIds = (0 until expeditions - duplicateExpeditions).map { i =>
      val year = 1950 + rng.nextInt(74)
      f"${peakIds(rng.nextInt(peaks))}$year%04d$i%05d"
    }
    val dupIds = Seq.fill(duplicateExpeditions)(expIds(rng.nextInt(expIds.length)))
    writeCsv(p.expeditions, expeditionColumns, order,
      (expIds ++ dupIds).map(expeditionRow(rng, _)))

    writeCsv(p.members, memberColumns, order, memberRows(rng, expIds, names))
    p
  }

  private def writeCsv(path: String, header: Seq[String], order: Random,
                       rows: Seq[Array[String]]): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 20)
    try {
      out.write(header.mkString(","))
      out.write('\n')
      order.shuffle(rows).foreach { r =>
        var i = 0
        while (i < r.length) {
          if (i > 0) out.write(',')
          out.write(r(i))
          i += 1
        }
        out.write('\n')
      }
    } finally out.close()
  }

  private val syllables = Seq("ka", "lo", "ma", "ri", "sen", "tu", "va", "nor",
    "bel", "gha", "zi", "an", "dor", "mo", "pe", "sha", "tan", "ur", "vel", "yo")
  private val suffixes = Seq("", "", "", "ia", "stan", "land", " Republic", " Islands")

  private def countryNames(rng: Random): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < countries) {
      val stem = Seq.fill(2 + rng.nextInt(2))(syllables(rng.nextInt(syllables.length))).mkString
      seen += stem.capitalize + suffixes(rng.nextInt(suffixes.length))
    }
    seen.toIndexedSeq
  }

  private def countryCodes(rng: Random): IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < countries)
      seen += Seq.fill(3)(('A' + rng.nextInt(26)).toChar).mkString
    seen.toIndexedSeq
  }

  private def code4(i: Int): String =
    Seq(i / 17576, i / 676 % 26, i / 26 % 26, i % 26).map(d => ('A' + d).toChar).mkString

  /** One series per (country, indicator): a random walk with leading,
    * interior and trailing null runs; about one indicator in twelve is
    * null for every year of a country.
    */
  private def worldBankRows(rng: Random, names: IndexedSeq[String],
                            codes: IndexedSeq[String]): Seq[Array[String]] = {
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    val n = years.length
    for (c <- 0 until countries; ind <- graft.pipeline.HimalayanPipeline.indicatorCodes) {
      val allNull = rng.nextInt(12) == 0
      val lead = rng.nextInt(n / 3)
      val trail = rng.nextInt(n / 6)
      val gapStart = lead + rng.nextInt(n / 2)
      val gapLen = rng.nextInt(6)
      var v = 1 + rng.nextDouble() * 100
      years.zipWithIndex.foreach { case (y, i) =>
        v = math.max(0.01, v * (0.9 + rng.nextDouble() * 0.25))
        val isNull = allNull || i < lead || i >= n - trail ||
          (i >= gapStart && i < gapStart + gapLen) || rng.nextInt(15) == 0
        rows += Array(codes(c), names(c), ind, y.toString,
          if (isNull) "" else "%.4f".formatLocal(java.util.Locale.ROOT, v))
      }
    }
    rows.toSeq
  }

  private def peakRow(rng: Random, id: String): Array[String] = {
    // about 5% below 5000 m or above 9000 m: outside the height bins
    val h = if (rng.nextInt(20) == 0) 4000 + rng.nextInt(800) + (if (rng.nextBoolean()) 5500 else 0)
            else 5000 + rng.nextInt(4000)
    val r = Array.fill(peakColumns.length)("")
    r(0) = id
    r(1) = s"Peak ${id.toLowerCase.capitalize}"
    r(4) = h.toString
    r(5) = math.round(h * 3.28084).toString
    for (i <- 6 until r.length) r(i) = filler(rng, i)
    r
  }

  private def expeditionRow(rng: Random, id: String): Array[String] = {
    val r = Array.fill(expeditionColumns.length)("")
    r(0) = id
    r(1) = id.take(4)
    r(2) = id.slice(4, 8)
    r(3) = (1 + rng.nextInt(4)).toString
    r(4) = (1 + rng.nextInt(3)).toString
    r(5) = s"Route ${1 + rng.nextInt(40)}"
    r(12) = rng.nextInt(2).toString
    for (i <- 6 until r.length if r(i).isEmpty) r(i) = filler(rng, i)
    r
  }

  private val firstNames = Seq("Ang", "Pasang", "Mingma", "Lhakpa", "Nima",
    "Anna", "Marco", "Yuki", "Chen", "Olga", "Pierre", "Sara", "Tomasz",
    "Ivan", "Maria", "Jon", "Lars", "Ines", "Ravi", "Kenji", "Ella", "Omar",
    "Noah", "Lea", "Arun", "Mei", "Pablo", "Ada", "Hugo", "Zofia")
  private val lastNames = Seq("Sherpa", "Tamang", "Gurung", "Rai", "Lama",
    "Rossi", "Tanaka", "Wang", "Novak", "Martin", "Kowalski", "Petrov",
    "Garcia", "Berg", "Silva", "Sato", "Kim", "Muller", "Dubois", "Nowak",
    "Singh", "Haddad", "Jensen", "Costa", "Ito", "Lopez", "Meyer", "Fischer")

  private def misspell(rng: Random, s: String): String = {
    val i = rng.nextInt(s.length)
    rng.nextInt(3) match {
      case 0 => s.patch(i, "", 1)
      case 1 => s.patch(i, ('a' + rng.nextInt(26)).toChar.toString, 1)
      case _ if i + 1 < s.length => s.patch(i, s"${s(i + 1)}${s(i)}", 2)
      case _ => s + "e"
    }
  }

  private def memberRows(rng: Random, expIds: IndexedSeq[String],
                         names: IndexedSeq[String]): Seq[Array[String]] = {
    val rows = mutable.ArrayBuffer.empty[Array[String]]
    var e = 0
    while (rows.length < members) {
      val expId = expIds(e % expIds.length)
      e += 1
      val size = math.min(members - rows.length, 1 + rng.nextInt(15))
      val year = expId.slice(4, 8).toInt
      val season = if (rng.nextInt(40) == 0) 0 else 1 + rng.nextInt(4)
      for (m <- 1 to size) {
        // namesakes within one expedition occur, as in the real register
        val fl = (firstNames(rng.nextInt(firstNames.length)), lastNames(rng.nextInt(lastNames.length)))
        // ages: mostly 18-70; some 0, negative or above 100 (outside the bins)
        val age = rng.nextInt(50) match {
          case 0 => -1
          case 1 => 0
          case 2 => 100 + rng.nextInt(10)
          case _ => 16 + rng.nextInt(60)
        }
        val citizen = rng.nextInt(20) match {
          case 0 => ""
          case 1 | 2 | 3 => misspell(rng, names(rng.nextInt(countries)))
          case _ => names(rng.nextInt(countries))
        }
        val sex = rng.nextInt(20) match {
          case 0 => ""
          case 1 => "X"
          case k if k < 5 => "F"
          case _ => "M"
        }
        val r = Array.fill(memberColumns.length)("")
        r(0) = expId
        r(1) = m.toString
        r(2) = expId.take(4)
        r(3) = year.toString
        r(4) = season.toString
        r(5) = fl._1
        r(6) = fl._2
        r(7) = sex
        r(8) = (year - age).toString
        r(9) = age.toString
        r(10) = citizen
        r(20) = rng.nextInt(2).toString // HIRED
        r(23) = rng.nextInt(2).toString // MSUCCESS
        r(45) = rng.nextInt(2).toString // MO2USED
        r(52) = if (rng.nextInt(60) == 0) "1" else "0" // DEATH
        for (i <- 11 until r.length if r(i).isEmpty) r(i) = filler(rng, i)
        rows += r
      }
    }
    rows.toSeq
  }

  /** Present-but-dropped contract columns: blanks, flags, small numbers and
    * short words, so the CSV scan parses realistic field widths.
    */
  private def filler(rng: Random, col: Int): String = (col % 4) match {
    case 0 => ""
    case 1 => if (rng.nextBoolean()) "True" else "False"
    case 2 => rng.nextInt(9000).toString
    case _ => syllables(rng.nextInt(syllables.length)) + syllables(rng.nextInt(syllables.length))
  }
}
