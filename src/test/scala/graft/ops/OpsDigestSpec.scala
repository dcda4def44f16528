package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.SparkTestSession

/** Pins the md5 of the ordered rows (and column names) of every battery
  * query whose thresholds are named constants, whose ranking, Jaccard or
  * trigram tail is shared, or whose input is built by a synthetic writer
  * (SyntheticPdf, the docling-JSON payloads, the streaming commit), through
  * the same `(s, dir)` entry points that Bench and Verify call. q22, q26,
  * q29 and q56 have no other output check in this suite. The constants were
  * computed once and do not move unless a query's output does. */
class OpsDigestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = new PlanSpec().sf // the sf0.001 tables the other ops specs read

  private def digest(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(df.columns.mkString(",").getBytes(UTF_8))
    for (r <- df.collect()) { md.update('\n'.toByte); md.update(r.toString.getBytes(UTF_8)) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val expected: Seq[(String, String)] = Seq(
    "q15_ngram_jaccard_pairs" -> "2c21bf04e594684141b6be5974df52c5",
    "q20_simhash_pairs" -> "c34061f1df0725eaac16bad72e75fe04",
    "q21_cosine_topk" -> "9c42f4366cb402df085f534ade976406",
    "q22_cosine_neardup" -> "b3da04e1f0d70bd3065eb9fde30468b8",
    "q23_cosine_lsh_topk" -> "9e0db0b83a5b2621fddb907dbc6d292b",
    "q25_ngram_jaccard_pruned" -> "2c21bf04e594684141b6be5974df52c5",
    "q26_salted_user_stats" -> "1e6282597cdb0566ba26162950b18a95",
    "q27_cosine_ivf_topk" -> "7454d003127155e0d11f32f4d2a947d8",
    "q29_simhash64_pairs" -> "7dce20ac4dd3305cea5ad400d6224208",
    "q30_extract_documents" -> "071e60f173b84d9fb0c7e05cf4f915a3",
    "q33_glyph_repair" -> "19331f0abdfce639d81ef393753ebff9",
    "q36_worst_pages" -> "7d98ea113cb98fbcb68e0e413ee995d8",
    "q37_ocr_merge" -> "e8df81b30a6c63e4f3c4b5e4072e041a",
    "q38_spacing_fix_flow" -> "b8469fbfbffe4bf8b7a8065ca4978b35",
    "q42_pdf_extract" -> "7643f5e3ccb939f5053620fb3353d9a0",
    "q43_pdf_pipeline" -> "b1e631c320e495941b3a10a76f6eec33",
    "q45_docling_pipeline" -> "813c83c76a02963e45a62d532fc2dfe4",
    "q47_neardup_components" -> "c0768e2346bf2bd0ef93629ae3ebb3e7",
    "q48_two_channel_repair" -> "5147526e5198363090be870069230205",
    "q49_ivf_trained" -> "f6bfa409601c11a171886c468a7772d5",
    "q54_page_range_image_modes" -> "346aedc95ee4d66167857392a60d26ff",
    "q55_pdf15_pipeline" -> "b1e631c320e495941b3a10a76f6eec33",
    "q56_quality_filter" -> "0d4fd893bf410460e7381251e87fcbaa",
    "q57_streaming_parity" -> "5c0cb4cbcd1a8937dc4769c2fe24bd02",
    "q59_encrypted_pipeline" -> "bb800281275a0b26c361e9bd3ce5652f")

  for ((name, want) <- expected)
    test(s"$name output digest at sf0.001") {
      val got = digest(graft.SparkEntry.queries(name)(spark, sf))
      assert(got == want, s"$name digest $got")
    }

  test("q21 brute-force reference over 2000 query ids: output digest at sf0.001") {
    val got = digest(Ops.q21CosineTopK(spark, sf, limitIds = 2000))
    assert(got == "cb27286de5e8685e5b812d68ed1e8108", s"q21@2000 digest $got")
  }
}
