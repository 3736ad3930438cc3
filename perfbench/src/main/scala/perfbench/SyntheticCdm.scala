package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/**
 * Seeded synthetic OMOP CDM, shaped like the upstream sample data
 * (FIXTURES.md §1):
 *  - every clinical column is a string, ids and dates included;
 *  - visit_occurrence carries the CDM 5.2 name `discharge_to_concept_id`;
 *  - `concept`, `concept_ancestor` and `concept_relationship` are int32
 *    vocabulary tables, with clinical-drug → ingredient ancestor edges so the
 *    drug roll-up fires.
 *
 * It also writes `observation_period`, `death` (about 5% of patients),
 * `patient_splits` (80/20 train/test) and about 3% orphan clinical events
 * whose visit id is null or points at no visit, so the artificial-visit and
 * visit-invalidation paths run. Visits per patient are log-normal (heavy
 * tail, capped at 250) and about a fifth of visits are inpatient, so the
 * inpatient ATT tokens and the hospitalization task both fire.
 *
 * About 6% of patients are born before 1916; every visit of theirs falls
 * after 2011, so the pipeline's age < 90 filter drops exactly them.
 *
 * Each patient is generated from its own random stream, keyed by
 * (seed, person_id), so the tables do not depend on partitioning and the same
 * seed gives byte-identical content.
 */
object SyntheticCdm {

  val Tables: Seq[String] = Seq("person", "visit_occurrence", "condition_occurrence",
    "procedure_occurrence", "drug_exposure", "observation_period", "death",
    "concept", "concept_ancestor", "concept_relationship", "patient_splits")

  // vocabulary id ranges
  private val Conditions = 4000001 until 4000401
  private val Procedures = 4100001 until 4100201
  private val Ingredients = 1000001 until 1000081
  private val Drugs = 1100001 until 1100301
  private def ingredientOf(drug: Int): Int = Ingredients.start + (drug - Drugs.start) % Ingredients.size

  private val Epoch2012 = java.time.LocalDate.of(2012, 1, 1).toEpochDay
  private val MaxVisitsPerPatient = 250
  private val DanglingVisitBase = 900000000000L

  final case class Visit(id: Long, concept: Int, startDay: Long, startHour: Int,
                         lengthDays: Int, discharge: String)
  final case class Event(domain: Int, id: Long, concept: Int, visitId: Option[Long],
                         day: Long, hour: Int)
  final case class Patient(id: Long, gender: Int, race: Int, birthYear: Int,
                           birthMonth: Int, birthDay: Int, hasBirthDatetime: Boolean,
                           visits: Vector[Visit], events: Vector[Event],
                           opStart: Long, opEnd: Long, deathDay: Option[Long],
                           split: String)

  private def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Skewed pick from a range: low indexes (common concepts) dominate. */
  private def skewed(r: SplittableRandom, range: Range): Int =
    range.start + math.min(range.size - 1, (range.size * math.pow(r.nextDouble(), 2.5)).toInt)

  private def poisson(r: SplittableRandom, mean: Double): Int = {
    val l = math.exp(-mean); var k = 0; var p = 1.0
    while ({ p *= r.nextDouble(); p > l }) k += 1
    k
  }

  def patient(seed: Long, pid: Long): Patient = {
    val r = new SplittableRandom(mix(seed, pid))
    val old = r.nextDouble() < 0.06
    val birthYear = if (old) 1900 + r.nextInt(16) else 1935 + r.nextInt(78)
    val nVisits = math.min(MaxVisitsPerPatient,
      math.max(1, math.exp(2.0 + 0.85 * r.nextGaussian()).toInt))
    var day = Epoch2012 + r.nextInt(9 * 365)
    val visits = (0 until nVisits).map { k =>
      val u = r.nextDouble()
      val concept = if (u < 0.18) 9201 else if (u < 0.22) 262 else if (u < 0.35) 9203 else 9202
      val inpatient = concept == 9201 || concept == 262
      val length = if (inpatient) 1 + poisson(r, 3.0) else 0
      val discharge =
        if (!inpatient) "0"
        else { val d = r.nextDouble(); if (d < 0.8) "8536" else if (d < 0.83) "4216643" else "0" }
      val v = Visit(pid * 1000 + k, concept, day, r.nextInt(24), length, discharge)
      day += length + 1 + (-math.log(1 - r.nextDouble()) * 55).toLong
      v
    }.toVector
    var eventSeq = 0L
    val events = visits.zipWithIndex.flatMap { case (v, k) =>
      val inpatient = v.concept == 9201 || v.concept == 262
      val n = 1 + poisson(r, if (inpatient) 12.0 else 6.0)
      (0 until n).map { j =>
        val domain = if (j == 0) 0 else { val d = r.nextDouble(); if (d < 0.4) 0 else if (d < 0.75) 2 else 1 }
        val concept = domain match {
          case 0 => skewed(r, Conditions)
          case 1 => skewed(r, Procedures)
          case _ => skewed(r, Drugs)
        }
        // the first event of the first visit always links, so every patient
        // has at least one event on a real visit
        val o = if (k == 0 && j == 0) 1.0 else r.nextDouble()
        val visitId =
          if (o < 0.015) None
          else if (o < 0.03) Some(DanglingVisitBase + pid * 1000 + k)
          else Some(v.id)
        eventSeq += 1
        Event(domain, pid * 100000 + eventSeq, concept, visitId,
          v.startDay + (if (v.lengthDays > 0) r.nextInt(v.lengthDays + 1) else 0), r.nextInt(24))
      }
    }
    val first = visits.head.startDay
    val last = visits.last.startDay + visits.last.lengthDays
    val opStart = first - 30 - r.nextInt(700)
    val dies = r.nextDouble() < 0.05
    val deathDay = if (dies) Some(last + r.nextInt(60)) else None
    val opEnd = deathDay.getOrElse(last + 30 + r.nextInt(335))
    Patient(pid, if (r.nextBoolean()) 8507 else 8532,
      Seq(8527, 8516, 8515, 0)(r.nextInt(4)), birthYear, 1 + r.nextInt(12), 1 + r.nextInt(28),
      r.nextDouble() < 0.7, visits, events, opStart, opEnd, deathDay,
      if (r.nextDouble() < 0.8) "train" else "test")
  }

  private def date(day: Long): String = java.time.LocalDate.ofEpochDay(day).toString
  private def datetime(day: Long, hour: Int): String = f"${date(day)} $hour%02d:00:00"
  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType, nullable = true)))
  private def ints(names: String*): StructType =
    StructType(names.map(StructField(_, IntegerType, nullable = false)))
  private def s(v: Any): String = if (v == null) null else v.toString

  private val conceptSchema = StructType(
    StructField("concept_id", IntegerType, nullable = false) +:
      Seq("concept_name", "domain_id", "vocabulary_id", "concept_class_id",
        "standard_concept", "concept_code", "valid_start_date", "valid_end_date",
        "invalid_reason").map(StructField(_, StringType, nullable = true)))

  private def vocabulary: (Seq[Row], Seq[Row], Seq[Row]) = {
    def c(id: Int, domain: String, vocab: String, cls: String) =
      Row(id, s"$cls $id", domain, vocab, cls, "S", s"C$id", "1970-01-01", "2099-12-31", null)
    val concepts =
      Conditions.map(c(_, "Condition", "SNOMED", "Clinical Finding")) ++
        Procedures.map(c(_, "Procedure", "SNOMED", "Procedure")) ++
        Ingredients.map(c(_, "Drug", "RxNorm", "Ingredient")) ++
        Drugs.map(c(_, "Drug", "RxNorm", "Clinical Drug")) ++
        Seq(9201 -> "Inpatient Visit", 9202 -> "Outpatient Visit", 9203 -> "Emergency Room Visit",
          262 -> "Emergency Room and Inpatient Visit").map { case (id, n) =>
          Row(id, n, "Visit", "Visit", "Visit", "S", s"V$id", "1970-01-01", "2099-12-31", null)
        }
    val self = (Conditions ++ Procedures ++ Ingredients ++ Drugs).map(id => Row(id, id, 0, 0))
    val ancestors = self ++ Drugs.map(d => Row(ingredientOf(d), d, 1, 1))
    val relationships = Drugs.flatMap { d =>
      Seq(Row(d, ingredientOf(d), "RxNorm has ing", "1970-01-01", "2099-12-31", null),
        Row(d, d, "Maps to", "1970-01-01", "2099-12-31", null))
    } ++ Conditions.map(id => Row(id, id, "Maps to", "1970-01-01", "2099-12-31", null))
    (concepts, ancestors, relationships)
  }

  /** Writes every table under `dir`, one sub-directory each. */
  def write(spark: SparkSession, dir: String, patients: Int, seed: Long,
            partitions: Int): Unit = {
    val sc = spark.sparkContext
    val people = sc.range(1, patients + 1L, 1, partitions).map(pid => patient(seed, pid)).cache()
    try {
      def out(name: String, schema: StructType, rows: org.apache.spark.rdd.RDD[Row]): Unit =
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(s"$dir/$name")

      out("person", strings("person_id", "gender_concept_id", "year_of_birth", "month_of_birth",
          "day_of_birth", "birth_datetime", "race_concept_id", "ethnicity_concept_id",
          "location_id", "provider_id", "care_site_id", "person_source_value",
          "gender_source_value", "gender_source_concept_id", "race_source_value",
          "race_source_concept_id", "ethnicity_source_value", "ethnicity_source_concept_id"),
        people.map { p =>
          Row(s(p.id), s(p.gender), s(p.birthYear), s(p.birthMonth), s(p.birthDay),
            if (p.hasBirthDatetime) f"${p.birthYear}-${p.birthMonth}%02d-${p.birthDay}%02d 00:00:00"
            else null,
            s(p.race), "0", null, null, null, s"P${p.id}", if (p.gender == 8507) "M" else "F",
            "0", null, "0", null, "0")
        })

      out("visit_occurrence", strings("visit_occurrence_id", "person_id", "visit_concept_id",
          "visit_start_date", "visit_start_datetime", "visit_end_date", "visit_end_datetime",
          "visit_type_concept_id", "provider_id", "care_site_id", "visit_source_value",
          "visit_source_concept_id", "admitting_source_concept_id", "admitting_source_value",
          "discharge_to_source_value", "discharge_to_concept_id", "preceding_visit_occurrence_id"),
        people.flatMap { p =>
          p.visits.map { v =>
            val end = v.startDay + v.lengthDays
            Row(s(v.id), s(p.id), s(v.concept), date(v.startDay), datetime(v.startDay, v.startHour),
              date(end), datetime(end, if (v.lengthDays > 0) 11 else math.min(23, v.startHour + 1)),
              "44818517", null, null, s"V${v.concept}", "0", "0", null, null, v.discharge, null)
          }
        })

      val domainSchemas = Seq(
        strings("condition_occurrence_id", "person_id", "condition_concept_id",
          "condition_start_date", "condition_start_datetime", "condition_end_date",
          "condition_end_datetime", "condition_type_concept_id", "condition_status_concept_id",
          "stop_reason", "provider_id", "visit_occurrence_id", "condition_source_value",
          "condition_source_concept_id", "condition_status_source_value"),
        strings("procedure_occurrence_id", "person_id", "procedure_concept_id", "procedure_date",
          "procedure_datetime", "procedure_type_concept_id", "modifier_concept_id", "quantity",
          "provider_id", "visit_occurrence_id", "procedure_source_value",
          "procedure_source_concept_id", "modifier_source_value"),
        strings("drug_exposure_id", "person_id", "drug_concept_id", "drug_exposure_start_date",
          "drug_exposure_start_datetime", "drug_exposure_end_date", "drug_exposure_end_datetime",
          "verbatim_end_date", "drug_type_concept_id", "stop_reason", "refills", "quantity",
          "days_supply", "sig", "route_concept_id", "lot_number", "provider_id",
          "visit_occurrence_id", "drug_source_value", "drug_source_concept_id",
          "route_source_value", "dose_unit_source_value"))
      Seq("condition_occurrence", "procedure_occurrence", "drug_exposure").zipWithIndex.foreach {
        case (name, domain) =>
          out(name, domainSchemas(domain), people.flatMap { p =>
            p.events.filter(_.domain == domain).map { e =>
              val vid = e.visitId.map(s).orNull
              val d = date(e.day); val dt = datetime(e.day, e.hour)
              domain match {
                case 0 => Row(s(e.id), s(p.id), s(e.concept), d, dt, d, dt, "32020", "0", null,
                  null, vid, s"C${e.concept}", "0", null)
                case 1 => Row(s(e.id), s(p.id), s(e.concept), d, dt, "38000275", "0", "1", null,
                  vid, s"P${e.concept}", "0", null)
                case _ => Row(s(e.id), s(p.id), s(e.concept), d, dt, date(e.day + 30),
                  datetime(e.day + 30, e.hour), null, "38000177", null, "0", "30", "30", null,
                  "0", null, null, vid, s"D${e.concept}", "0", null, null)
              }
            }
          })
      }

      out("observation_period", strings("observation_period_id", "person_id",
          "observation_period_start_date", "observation_period_end_date", "period_type_concept_id",
          "observation_period_start_datetime", "observation_period_end_datetime"),
        people.map(p => Row(s(p.id), s(p.id), date(p.opStart), date(p.opEnd), "44814724",
          datetime(p.opStart, 0), datetime(p.opEnd, 0))))

      out("death", strings("person_id", "death_date", "death_datetime", "death_type_concept_id",
          "cause_concept_id", "cause_source_value", "cause_source_concept_id"),
        people.flatMap(p => p.deathDay.map(d =>
          Row(s(p.id), date(d), datetime(d, 12), "38003569", "4306655", null, "0"))))

      out("patient_splits", strings("person_id", "split"),
        people.map(p => Row(s(p.id), p.split)))

      val (concepts, ancestors, relationships) = vocabulary
      def local(name: String, schema: StructType, rows: Seq[Row]): Unit =
        spark.createDataFrame(sc.parallelize(rows, 1), schema)
          .write.mode("overwrite").parquet(s"$dir/$name")
      local("concept", conceptSchema, concepts)
      local("concept_ancestor", ints("ancestor_concept_id", "descendant_concept_id",
        "min_levels_of_separation", "max_levels_of_separation"), ancestors)
      local("concept_relationship", StructType(
        ints("concept_id_1", "concept_id_2").fields ++
          strings("relationship_id", "valid_start_date", "valid_end_date", "invalid_reason").fields),
        relationships)
    } finally people.unpersist(blocking = true)
  }

  def rowCounts(spark: SparkSession, dir: String): Map[String, Long] =
    Tables.map(t => t -> spark.read.parquet(s"$dir/$t").count()).toMap
}
