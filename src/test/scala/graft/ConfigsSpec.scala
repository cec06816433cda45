package graft

import graft.config.Configs
import org.scalatest.funsuite.AnyFunSuite

/** The sample configs shipped in `configs/` load into a complete job
  * config, and the YAML forms a hand-written config may use beyond them
  * (block lists, unquoted dates, quoted `#`) read back verbatim.
  */
class ConfigsSpec extends AnyFunSuite {

  private val columns = Seq("ISIN", "Mnemonic", "Date", "Time",
    "StartPrice", "EndPrice", "MinPrice", "MaxPrice", "TradedVolume")

  test("configs/local_report1.yaml loads") {
    val cfg = Configs.load("configs/local_report1.yaml")
    assert(cfg.source.uri == "file:///tmp/graft_demo/src")
    assert(cfg.source.firstExtractDate == "2021-04-17")
    assert(cfg.source.columns == columns)
    assert(cfg.target.uri == "file:///tmp/graft_demo/trg")
    assert(cfg.target.keyDateFormat == "yyyyMMdd_HHmmss") // comment stripped
    assert(cfg.target.format == "parquet")
    assert(cfg.target.colChPrevClos == "change_prev_closing_%")
    assert(cfg.meta.metaUri == "file:///tmp/graft_demo/trg/meta/meta.csv")
    assert(cfg.logging.isEmpty)
  }

  test("configs/s3_report1.yaml loads") {
    val cfg = Configs.load("configs/s3_report1.yaml")
    assert(cfg.source.uri == "s3a://deutsche-boerse-xetra-pds")
    assert(cfg.source.columns == columns)
    assert(cfg.source.colTradedVol == "TradedVolume")
    assert(cfg.target.uri == "s3a://my-report-bucket/xetra")
    assert(cfg.target.key == "report1/xetra_daily_report1_")
    assert(cfg.meta.metaUri == "s3a://my-report-bucket/xetra/meta/meta.csv")
    assert(cfg.logging.isEmpty)
  }

  test("block lists, unquoted dates and a quoted '#' read back verbatim") {
    val yaml =
      """source:
        |  src_uri: file:///tmp/src   # trailing comment
        |  src_first_extract_date: 2021-04-17
        |  src_columns:
        |    - ISIN
        |    - Date
        |    - TradedVolume
        |  src_col_date: Date
        |  src_col_isin: ISIN
        |  src_col_time: Time
        |  src_col_start_price: StartPrice
        |  src_col_min_price: MinPrice
        |  src_col_max_price: MaxPrice
        |  src_col_traded_vol: TradedVolume
        |target:
        |  trg_uri: file:///tmp/trg
        |  trg_key: 'report1/#daily_'
        |  trg_key_date_format: "yyyyMMdd # HHmmss"
        |  trg_format: parquet
        |  trg_col_isin: isin
        |  trg_col_date: date
        |  trg_col_op_price: opening_price_eur
        |  trg_col_clos_price: closing_price_eur
        |  trg_col_min_price: minimum_price_eur
        |  trg_col_max_price: maximum_price_eur
        |  trg_col_dail_trad_vol: daily_traded_volume
        |  trg_col_ch_prev_clos: change_prev_closing_%
        |meta:
        |  meta_uri: file:///tmp/trg/meta/meta.csv
        |""".stripMargin
    val f = java.nio.file.Files.createTempFile("graft-config", ".yaml")
    try {
      java.nio.file.Files.writeString(f, yaml)
      val cfg = Configs.load(f.toString)
      assert(cfg.source.columns == Seq("ISIN", "Date", "TradedVolume"))
      assert(cfg.source.firstExtractDate == "2021-04-17")
      assert(cfg.source.uri == "file:///tmp/src")
      assert(cfg.target.key == "report1/#daily_")
      assert(cfg.target.keyDateFormat == "yyyyMMdd # HHmmss")
      assert(cfg.target.colChPrevClos == "change_prev_closing_%")
      assert(cfg.meta.metaUri == "file:///tmp/trg/meta/meta.csv")
    } finally java.nio.file.Files.delete(f)
  }
}
