package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.ColumnOps

/** Gold-layer featurizers + feature/label stores (gold_*.py semantics).
  *
  * Key deliberate deviation from the reference (SURVEY §7): one-hot
  * columns come from FIXED category dictionaries, not per-batch
  * StringIndexer/OneHotEncoder fits, so column meaning is stable across
  * weeks — the drift the reference papers over with feature_names +
  * zero-fill at serve time (model_inference_utils.py:62–65). emp_title's
  * top-10 remains data-dependent (it is in the reference too) but uses a
  * deterministic tie-break.
  *
  * Scale: the store assembly is 3 left equi-joins on
  * (member_id, snapshot_date). The per-table featurizers are map-side;
  * only the joins shuffle, and with weekly partition pruning each join
  * touches one week of each side.
  */
object Gold {

  /** gold credit history: months_since_earliest_cr from month-truncated
    * dates (gold_feature_store.py:65–73), numeric-only contract. */
  def creditHistory(silver: DataFrame): DataFrame =
    silver
      .withColumn("months_since_earliest_cr",
        ColumnOps.monthsSince(col("snapshot_date"), col("earliest_cr_line"))
          .cast("int"))
      .na.fill(Map("months_since_earliest_cr" -> 999))
      .drop("earliest_cr_line")

  /** Deterministic top-K frequent values (top-10 emp_title,
    * gold_feature_store.py:98–105) — ties broken by value. */
  def topKValues(df: DataFrame, c: String, k: Int): Seq[String] =
    df.groupBy(c).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc(c))
      .limit(k).collect().map(_.getString(0)).toSeq

  /** gold demographic: top-10-or-OTHER emp_title OHE, emp_length parse,
    * fixed-dictionary OHE for the categoricals. */
  def demographic(silver: DataFrame, addrStates: Seq[String]): DataFrame = {
    val top10 = topKValues(silver, "emp_title", 10)
    val bucketed = silver
      .withColumn("emp_title_b",
        when(col("emp_title").isin(top10: _*), col("emp_title")).otherwise("OTHER"))
      .withColumn("emp_length_int", ColumnOps.parseEmpLength(col("emp_length")))
    val ohe =
      top10.sorted.zipWithIndex.map { case (v, i) =>
        when(col("emp_title_b") === v, 1).otherwise(0).as(s"emp_title_ohe_$i") } ++
      Seq(when(col("emp_title_b") === "OTHER", 1).otherwise(0).as("emp_title_ohe_other")) ++
      ColumnOps.oneHot("home_ownership", Schemas.homeOwnershipCats) ++
      ColumnOps.oneHot("verification_status", Schemas.verificationStatusCats) ++
      ColumnOps.oneHot("application_type", Schemas.applicationTypeCats) ++
      ColumnOps.oneHot("addr_state", addrStates)
    bucketed.select(
      Seq(col("member_id"), col("snapshot_date"), col("annual_inc"),
        col("emp_length_int")) ++ ohe: _*)
  }

  /** Reference-compat demographic featurizer (fitOnBatch mode, SURVEY §7):
    * per-batch StringIndexer+OneHotEncoder fits via Training.compatOneHot,
    * reproducing the reference's frequency-ordered, batch-dependent
    * column meanings (gold_feature_store.py:114–123) — for byte-parity
    * tests against reference outputs. The engine-native `demographic`
    * (fixed dictionaries) is the default. */
  def demographicCompat(silver: DataFrame): DataFrame = {
    val withParsed = silver
      .withColumn("emp_length_int", ColumnOps.parseEmpLength(col("emp_length")))
    Seq("home_ownership", "verification_status", "application_type", "addr_state")
      .foldLeft(withParsed)(graft.ml.Training.compatOneHot)
      .drop("emp_title", "emp_length", "home_ownership",
        "verification_status", "application_type", "addr_state", "zip_code")
  }

  /** gold financial: everything non-key cast to double
    * (gold_financial.py:9–11). */
  def financial(silver: DataFrame): DataFrame = {
    val keys = Set("member_id", "snapshot_date")
    silver.select(silver.columns.toIndexedSeq.map { c =>
      if (keys(c)) col(c) else col(c).cast("double").as(c) }: _*)
  }

  /** gold loan terms: term digits, grade→0–6, purpose/loan_status OHE
    * over fixed dictionaries (gold_loan_terms.py). */
  def loanTerms(silver: DataFrame, purposeCats: Seq[String],
                statusCats: Seq[String]): DataFrame =
    silver
      .withColumn("term_months",
        regexp_extract(col("term"), "(\\d+)", 1).cast("int"))
      .withColumn("grade_encoded",
        ColumnOps.labelMap(col("grade"), Schemas.gradeMapping))
      .select(
        Seq(col("id"), col("member_id"), col("snapshot_date"),
          col("loan_amnt"), col("funded_amnt"), col("funded_amnt_inv"),
          col("int_rate"), col("installment"), col("term_months"),
          col("grade"), col("grade_encoded"), col("pymnt_plan"),
          col("debt_settlement_flag"), col("initial_list_status"),
          col("disbursement_method")) ++
          ColumnOps.oneHot("purpose", purposeCats) ++
          ColumnOps.oneHot("loan_status", statusCats): _*)

  /** Feature store (gold_feature_store.py:325–337): loan spine, 3 left
    * joins on (member_id, snapshot_date), full-row distinct, grade
    * non-null filter, keys dropped. All-numeric output + id. */
  def featureStore(loan: DataFrame, demo: DataFrame, fin: DataFrame,
                   credit: DataFrame): DataFrame = {
    val keys = Seq("member_id", "snapshot_date")
    loan
      .join(demo, keys, "left")
      .join(fin, keys, "left")
      .join(credit, keys, "left")
      .distinct()
      .filter(col("grade").isNotNull)
      .drop("member_id", "snapshot_date", "grade")
  }

  /** Label store (gold_label_store.py:40–42). */
  def labelStore(loanSilver: DataFrame): DataFrame =
    loanSilver
      .filter(col("grade").isNotNull)
      .select(col("id"), col("snapshot_date"), col("grade"))

  /** Numeric-only audit (gold_credit_history.py:11–16): names of
    * non-numeric, non-key columns — the gold contract violation set. */
  def nonNumericColumns(df: DataFrame, keys: Set[String]): Seq[String] =
    df.schema.fields
      .filterNot(f => keys(f.name))
      .filterNot(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq
}
