package graft.queries

import graft.SparkEntry
import graft.testkit.SparkSpec

/** No gate row writes the conf of the session it is handed. The driver
  * runs every [[SparkEntry.queries]] entry on one session, so a conf one
  * row left behind would change every row after it. Each row that runs
  * under confs of its own (a catalog, storage-partitioned joins, a
  * state-store provider, an optimizer rule, a decoder, SQL scripting,
  * range sampling) is run at sf0.001 and collected; the session's
  * runtime conf must be the same afterwards. */
class ConfScopeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val rows = Seq(
    "g_dsv2_bucket_compat", "g_dsv2_bucket_join", "g_dsv2_bucket_mixed",
    "g_dsv2_bucket_multi", "g_dsv2_bucket_pfilter", "g_dsv2_bucket_skew",
    "g_dsv2_bucket_sorted", "g_dsv2_catalog", "g_dsv2_dml", "g_dsv2_zorder",
    "g_dsv2_zorder_bucket", "st_dsv2_bucket", "st_dedup_rocks",
    "st_dedup_tws", "st_funnel_tws", "st_lastn_tws", "st_profile_tws",
    "st_running_rocks", "st_running_tws", "st_running_warm",
    "st_sessionize_tws", "st_ss_asof", "st_ss_asof_fwd", "st_ss_asof_fwd_mb",
    "st_ss_asof_mb", "st_state_reader", "st_variant_state",
    "st_variant_state_mb", "d_fuzzy_sql", "mm_jpeg_meta", "mm_png_decode",
    "q43_sql_script", "e_interval_join_auto")

  for (name <- rows)
    test(s"$name leaves the session conf as it found it") {
      val before = spark.conf.getAll
      SparkEntry.queries(name)(spark, dir).collect()
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      // put the conf back so that the next row starts from the same one
      changed.foreach(k => before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
      assert(changed.isEmpty, s"$name changed the session conf: " +
        changed.toSeq.sorted.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
    }
}
