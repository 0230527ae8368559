package graft.sources

/** CF time-coordinate decoding (xarray's decode_cf_datetime, applied by
  * the reference when it opens any store, context.py:243-250): a time
  * variable carrying a `units` attribute of the form
  * `"<interval> since <base timestamp>"` decodes as
  * `base + value * interval`. Real-world axes are NEVER raw epoch
  * values — "days since 1970-01-01" and "seconds since 2000-01-01" are
  * the overwhelming profiles — so without this step a reader produces
  * epoch-1970 garbage dates.
  *
  * Calendars (CF §4.4.1): `standard`/`gregorian`/`proleptic_gregorian`
  * decode on the real timeline (java.time). The climate-model calendars
  * `360_day`, `noleap`/`365_day`, `all_leap`/`366_day` and `julian` —
  * pervasive in CMIP output, decoded by the reference for free via
  * cftime — decode to CALENDAR-NATIVE epoch-microseconds: µs since
  * 1970-01-01 00:00:00 counted in the variable's own calendar (the
  * same arithmetic cftime's date2num performs for units
  * "microseconds since 1970-01-01"). The value is monotonic, exactly
  * reversible, and correct for range slicing / nearest select /
  * fixed-interval resampling; [[isoLabel]] converts it back to the
  * calendar's own date fields for display (a 360_day axis really does
  * contain 2000-02-30 — formatting through java.time would mis-date).
  * Genuinely unknown calendars and calendar-dependent intervals
  * (months, years) fail loudly rather than silently mis-date.
  */
private[graft] object CfTime {

  private val UnitsUs: Map[String, Double] = Map(
    "microseconds" -> 1.0, "microsecond" -> 1.0, "us" -> 1.0,
    "milliseconds" -> 1e3, "millisecond" -> 1e3, "ms" -> 1e3,
    "seconds" -> 1e6, "second" -> 1e6, "sec" -> 1e6, "secs" -> 1e6,
    "s" -> 1e6,
    "minutes" -> 60e6, "minute" -> 60e6, "min" -> 60e6, "mins" -> 60e6,
    "hours" -> 3600e6, "hour" -> 3600e6, "hr" -> 3600e6, "hrs" -> 3600e6,
    "h" -> 3600e6,
    "days" -> 86400e6, "day" -> 86400e6, "d" -> 86400e6)

  private val Pattern =
    """(?i)\s*([a-z]+)\s+since\s+(.+?)\s*""".r

  private val DayUs = 86400000000L

  // ------------------------------------------------------------ calendars

  /** Day-numbering of one CF calendar: days between 1970-01-01 and
    * (y,mo,d) *counted in this calendar*, and the inverse. */
  sealed trait Calendar extends Serializable {
    def toDays(y: Int, mo: Int, d: Int): Long
    def fromDays(days: Long): (Int, Int, Int)
    /** number of days in (y, mo) — validates base timestamps */
    def monthLen(y: Int, mo: Int): Int
  }

  /** real timeline — java.time's proleptic-Gregorian arithmetic (how
    * xarray maps standard-calendar axes onto datetime64) */
  case object Standard extends Calendar {
    def toDays(y: Int, mo: Int, d: Int): Long =
      java.time.LocalDate.of(y, mo, d).toEpochDay
    def fromDays(days: Long): (Int, Int, Int) = {
      val ld = java.time.LocalDate.ofEpochDay(days)
      (ld.getYear, ld.getMonthValue, ld.getDayOfMonth)
    }
    def monthLen(y: Int, mo: Int): Int =
      java.time.YearMonth.of(y, mo).lengthOfMonth
  }

  /** every month has exactly 30 days (CF `360_day`) */
  case object Day360 extends Calendar {
    def toDays(y: Int, mo: Int, d: Int): Long =
      (y - 1970L) * 360L + (mo - 1L) * 30L + (d - 1L)
    def fromDays(days: Long): (Int, Int, Int) = {
      val y = Math.floorDiv(days, 360L)
      val r = Math.floorMod(days, 360L)
      ((1970L + y).toInt, (r / 30L).toInt + 1, (r % 30L).toInt + 1)
    }
    def monthLen(y: Int, mo: Int): Int = 30
  }

  private val Cum365 =
    Array(0, 31, 59, 90, 120, 151, 181, 212, 243, 273, 304, 334)
  private val Cum366 =
    Array(0, 31, 60, 91, 121, 152, 182, 213, 244, 274, 305, 335)
  private val Len365 =
    Array(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

  /** no year is a leap year (CF `noleap` / `365_day`) */
  case object NoLeap extends Calendar {
    def toDays(y: Int, mo: Int, d: Int): Long =
      (y - 1970L) * 365L + Cum365(mo - 1) + (d - 1L)
    def fromDays(days: Long): (Int, Int, Int) = {
      val y = Math.floorDiv(days, 365L)
      val r = Math.floorMod(days, 365L).toInt
      var mo = 11
      while (Cum365(mo) > r) mo -= 1
      ((1970L + y).toInt, mo + 1, r - Cum365(mo) + 1)
    }
    def monthLen(y: Int, mo: Int): Int = Len365(mo - 1)
  }

  /** every year is a leap year (CF `all_leap` / `366_day`) */
  case object AllLeap extends Calendar {
    def toDays(y: Int, mo: Int, d: Int): Long =
      (y - 1970L) * 366L + Cum366(mo - 1) + (d - 1L)
    def fromDays(days: Long): (Int, Int, Int) = {
      val y = Math.floorDiv(days, 366L)
      val r = Math.floorMod(days, 366L).toInt
      var mo = 11
      while (Cum366(mo) > r) mo -= 1
      ((1970L + y).toInt, mo + 1, r - Cum366(mo) + 1)
    }
    def monthLen(y: Int, mo: Int): Int =
      if (mo == 2) 29 else Len365(mo - 1)
  }

  /** proleptic Julian: leap every 4th year including centuries (CF
    * `julian`); classic JDN conversion, Math.floorDiv for pre-1970 */
  case object Julian extends Calendar {
    // JDN of 1970-01-01 (Julian calendar) so toDays(1970,1,1) == 0
    private val Jdn1970 = jdn(1970, 1, 1)
    private def jdn(y: Int, mo: Int, d: Int): Long = {
      val a = (14 - mo) / 12
      val y2 = y + 4800L - a
      val m2 = mo + 12L * a - 3L
      d + (153L * m2 + 2L) / 5L + 365L * y2 +
        Math.floorDiv(y2, 4L) - 32083L
    }
    def toDays(y: Int, mo: Int, d: Int): Long = jdn(y, mo, d) - Jdn1970
    def fromDays(days: Long): (Int, Int, Int) = {
      val c = days + Jdn1970 + 32082L
      val d4 = Math.floorDiv(4L * c + 3L, 1461L)
      val e = c - Math.floorDiv(1461L * d4, 4L)
      val m = (5L * e + 2L) / 153L
      val day = (e - (153L * m + 2L) / 5L + 1L).toInt
      val mo = (m + 3L - 12L * (m / 10L)).toInt
      val y = d4 - 4800L + m / 10L
      (y.toInt, mo, day)
    }
    def monthLen(y: Int, mo: Int): Int =
      if (mo == 2 && Math.floorMod(y, 4) == 0) 29 else Len365(mo - 1)
  }

  /** true iff the calendar name decodes with java.time's
    * proleptic-Gregorian arithmetic (safe for Gregorian date functions
    * like weekday binning) */
  def isStandardCalendar(name: String): Boolean =
    name.toLowerCase.trim match {
      case "standard" | "gregorian" | "proleptic_gregorian" => true
      case _ => false
    }

  /** the CF `calendar` attribute value → arithmetic; None (attribute
    * absent) defaults to standard per CF §4.4.1 */
  def calendarFor(name: Option[String]): Calendar =
    name.map(_.toLowerCase.trim) match {
      case None | Some("standard" | "gregorian" | "proleptic_gregorian") =>
        Standard
      case Some("360_day") => Day360
      case Some("noleap" | "365_day") => NoLeap
      case Some("all_leap" | "366_day") => AllLeap
      case Some("julian") => Julian
      case Some(other) => throw new IllegalArgumentException(
        s"CF calendar '$other' unsupported (standard/proleptic_gregorian/" +
          "360_day/noleap/365_day/all_leap/366_day/julian)")
    }

  /** Some((base epoch-us, interval-us)) when `units` is a decodable CF
    * time specification. The base is epoch-us in `calendar`'s own
    * timeline (identical to real epoch-us for standard calendars). */
  def parseUnits(units: String,
                 calendar: Option[String]): Option[(Long, Double)] = {
    val cal = calendarFor(calendar) // unknown calendars fail loudly here
    units match {
      case Pattern(interval, base) =>
        // this IS a time spec — an interval we can't decode must fail
        // loudly, never fall back to raw values that would silently
        // mis-date rows. months/years have a fixed length ONLY in the
        // fixed-length calendars (360_day months are exactly 30 days;
        // noleap/all_leap years exactly 365/366 days — the cftime
        // semantics); elsewhere they stay calendar-dependent errors.
        val iv = UnitsUs.get(interval.toLowerCase)
          .orElse(fixedCalendarInterval(interval.toLowerCase, cal))
          .getOrElse(throw new IllegalArgumentException(
            s"CF time interval '$interval' unsupported for this calendar " +
              "(us/ms/s/min/h/day everywhere; months only in 360_day; " +
              "years only in 360_day/noleap/all_leap)"))
        Some((parseBaseUs(base, cal), iv))
      case _ => None
    }
  }

  /** month/year intervals where the calendar makes them a fixed number
    * of days (µs); None where they are genuinely variable-length */
  private def fixedCalendarInterval(interval: String,
                                    cal: Calendar): Option[Double] = {
    val days: Option[Int] = (interval, cal) match {
      case ("month" | "months" | "mon" | "mons", Day360) => Some(30)
      case ("year" | "years" | "yr" | "yrs", Day360) => Some(360)
      case ("year" | "years" | "yr" | "yrs", NoLeap) => Some(365)
      case ("year" | "years" | "yr" | "yrs", AllLeap) => Some(366)
      case _ => None
    }
    days.map(_ * 86400e6)
  }

  // CF base timestamps are looser than strict ISO: single-digit date
  // and time components ("2000-1-1 0:0:0", the CF spec's own examples),
  // space or 'T' separators, optional fractional seconds, optional
  // Z/UTC/±H[H][:MM] offsets
  private val Base = ("""(\d{1,4})-(\d{1,2})-(\d{1,2})""" +
    """(?:[T ](\d{1,2}):(\d{1,2})(?::(\d{1,2})(\.\d+)?)?)?""" +
    """(?:\s*(?:Z|UTC|([+-]\d{1,2})(?::?(\d{2}))?))?""").r

  /** parsed CF base timestamp: calendar date fields + time-of-day (µs)
    * + UTC offset (µs); epoch-us = days(y,mo,d)*DayUs + todUs - offUs */
  private final case class BaseFields(y: Int, mo: Int, d: Int,
                                      todUs: Long, offUs: Long) {
    def us(cal: Calendar): Long = Math.addExact(
      Math.multiplyExact(cal.toDays(y, mo, d), DayUs), todUs) - offUs
  }

  private def parseBaseFields(s0: String, cal: Calendar): BaseFields =
    s0.trim match {
      case Base(y, mo, d, h, mi, se, frac, offH, offM) =>
        val (yi, moi, di) = (y.toInt, mo.toInt, d.toInt)
        require(moi >= 1 && moi <= 12 && di >= 1 && di <= cal.monthLen(yi, moi),
          s"'$s0' is not a date in this CF calendar")
        val todUs = Option(h).map(_.toLong).getOrElse(0L) * 3600000000L +
          Option(mi).map(_.toLong).getOrElse(0L) * 60000000L +
          Option(se).map(_.toLong).getOrElse(0L) * 1000000L +
          Option(frac).map(f => math.round(f.toDouble * 1e6)).getOrElse(0L)
        val offUs = Option(offH).map { oh =>
          val sign = if (oh.startsWith("-")) -1L else 1L
          val hours = oh.drop(1).toLong
          val mins = Option(offM).map(_.toLong).getOrElse(0L)
          sign * (hours * 3600L + mins * 60L) * 1000000L
        }.getOrElse(0L)
        BaseFields(yi, moi, di, todUs, offUs)
      case other => throw new IllegalArgumentException(
        s"unparseable CF base timestamp '$other'")
    }

  private def parseBaseUs(s0: String, cal: Calendar): Long =
    parseBaseFields(s0, cal).us(cal)

  /** decode raw coordinate values to epoch-microseconds (round-half-up
    * on fractional intervals, like pandas) */
  def decode(raw: Array[Double], baseUs: Long,
             intervalUs: Double): Array[Long] =
    raw.map(v => baseUs + math.round(v * intervalUs))

  private val MonthNames = Set("month", "months", "mon", "mons")
  private val YearNames = Set("year", "years", "yr", "yrs")

  /** base advanced by k whole months, in `cal`'s own timeline: the month
    * FIELD advances and the day-of-month clamps to the target month's
    * length (2000-01-31 + 1 month = 2000-02-29) — the convention of
    * java.time plusMonths / dateutil relativedelta. */
  private def addMonthsUs(cal: Calendar, bf: BaseFields, k: Long): Long = {
    val m = bf.y.toLong * 12L + (bf.mo - 1) + k
    val y = Math.floorDiv(m, 12L).toInt
    val mo = Math.floorMod(m, 12L).toInt + 1
    val d = math.min(bf.d, cal.monthLen(y, mo))
    Math.addExact(Math.multiplyExact(cal.toDays(y, mo, d), DayUs),
      bf.todUs) - bf.offUs
  }

  /** General CF time decoder: Some(raw value → epoch-us) when `units`
    * is a time spec; None when it isn't one at all. Covers everything
    * [[parseUnits]] covers PLUS `months since`/`years since` in the
    * variable-length calendars (standard/proleptic_gregorian/julian),
    * which no linear (base, interval) pair can express — cftime refuses
    * those outright ("months since" only in 360_day), the CF spec
    * leaves the semantics open, and real CMIP/obs files carry them, so
    * graft decodes them with month-FIELD arithmetic (see
    * [[addMonthsUs]]); fractional months/years interpolate linearly
    * inside the landing month/year. Unknown intervals and calendars
    * still fail loudly — never a silent fall-back to raw values. */
  def decoder(units: String,
              calendar: Option[String]): Option[Double => Long] = {
    val cal = calendarFor(calendar)
    units match {
      case Pattern(interval0, base) =>
        val interval = interval0.toLowerCase
        UnitsUs.get(interval).orElse(fixedCalendarInterval(interval, cal)) match {
          case Some(iv) =>
            val baseUs = parseBaseUs(base, cal)
            Some(v => baseUs + math.round(v * iv))
          case None if MonthNames(interval) || YearNames(interval) =>
            val bf = parseBaseFields(base, cal)
            val perUnit = if (YearNames(interval)) 12L else 1L
            Some { v =>
              val vm = v * perUnit
              val k = math.floor(vm)
              val t0 = addMonthsUs(cal, bf, k.toLong)
              if (vm == k) t0
              else t0 + math.round((vm - k) *
                (addMonthsUs(cal, bf, k.toLong + 1L) - t0))
            }
          case None => throw new IllegalArgumentException(
            s"CF time interval '$interval0' unsupported")
        }
      case _ => None
    }
  }

  /** Inverse of [[decoder]] for the fixture writers (store an epoch-us
    * axis in its declared units). Linear intervals divide; month/year
    * intervals recover the whole-month count by field arithmetic and
    * REQUIRE the timestamp to land exactly on one (day-clamping makes
    * the decode non-injective, so the candidate is verified by
    * re-decoding). */
  def encoder(units: String,
              calendar: Option[String]): Option[Long => Double] = {
    val cal = calendarFor(calendar)
    units match {
      case Pattern(interval0, base) =>
        val interval = interval0.toLowerCase
        UnitsUs.get(interval).orElse(fixedCalendarInterval(interval, cal)) match {
          case Some(iv) =>
            val baseUs = parseBaseUs(base, cal)
            Some(us => (us - baseUs) / iv)
          case None if MonthNames(interval) || YearNames(interval) =>
            val bf = parseBaseFields(base, cal)
            val perUnit = if (YearNames(interval)) 12L else 1L
            Some { us =>
              val (y, mo, _) = cal.fromDays(Math.floorDiv(us + bf.offUs, DayUs))
              val approx = (y.toLong - bf.y) * 12L + (mo - bf.mo)
              val k = (approx - 1L to approx + 1L).find(c =>
                addMonthsUs(cal, bf, c) == us).getOrElse(
                throw new IllegalArgumentException(
                  s"$us does not land on a whole $interval0 from '$base'"))
              require(k % perUnit == 0L,
                s"$us is not a whole $interval0 from '$base'")
              (k / perUnit).toDouble
            }
          case None => throw new IllegalArgumentException(
            s"CF time interval '$interval0' unsupported")
        }
      case _ => None
    }
  }

  /** Parse an ISO-ish date/instant through the axis's OWN CF calendar —
    * the inverse of [[isoLabel]]: a 360_day catalogue genuinely
    * advertises '2017-02-30T00:00:00Z' and a client echoing that label
    * back must resolve to the exact axis step, not a java.time parse
    * error (or a drifted epoch on noleap/julian axes). Standard
    * calendars take the identical grammar (date-only, space or 'T',
    * optional seconds/fraction/offset). Invalid dates throw
    * IllegalArgumentException (a client error, never a 500). */
  def parseIsoUs(s: String, calendar: Option[String]): Long = {
    val cal = calendarFor(calendar)
    parseBaseFields(s, cal).us(cal)
  }

  /** calendar-aware ISO-8601 label for an axis value (for non-standard
    * calendars an epoch-us run through java.time would print drifted
    * dates — a 360_day axis genuinely contains 2000-02-30) */
  def isoLabel(us: Long, calendar: Option[String]): String = {
    val cal = calendarFor(calendar)
    val (y, mo, d) = cal.fromDays(Math.floorDiv(us, DayUs))
    val tod = Math.floorMod(us, DayUs)
    val s = tod / 1000000L
    f"$y%04d-$mo%02d-$d%02d" +
      f"T${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02dZ"
  }

  /** The time axis of a store variable as epoch-microseconds: CF
    * `units` decoding when the attribute is present, raw values
    * otherwise (graft's native convention stores epoch-us directly). */
  def axisUs(textAttrs: Map[String, String],
             rawRead: => Array[Double]): Option[Array[Long]] =
    textAttrs.get("units")
      .flatMap(u => decoder(u, textAttrs.get("calendar")))
      .map(dec => rawRead.map(dec))
}
