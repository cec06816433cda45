package graft

import graft.config.Configs
import org.scalatest.funsuite.AnyFunSuite

/** The sample configs shipped in `configs/` load into a complete job
  * config (the same scan reads their sections and any logging section).
  */
class ConfigsSpec extends AnyFunSuite {

  private val columns = Seq("ISIN", "Mnemonic", "Date", "Time",
    "StartPrice", "EndPrice", "MinPrice", "MaxPrice", "TradedVolume")

  test("configs/local_report1.yaml loads") {
    val cfg = Configs.load("configs/local_report1.yaml")
    assert(cfg.source.uri == "file:///tmp/graft_demo/src")
    assert(cfg.source.firstExtractDate == "2021-04-17")
    assert(cfg.source.columns == columns)
    assert(cfg.source.extraDoubleCols == Seq("EndPrice"))
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
}
