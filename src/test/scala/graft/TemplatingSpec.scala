package graft

import graft.conf.GluestickConf
import graft.operators.Templating
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

class TemplatingSpec extends AnyFunSuite {

  test("formatStrSafely replaces only truthy values, keeps unknown keys") {
    // ref: src/etl-utils.ts:161-175
    val out = Templating.formatStrSafely(
      "{tenant}_{custom}_{missing}_",
      Map("tenant" -> "acme", "custom" -> "x", "empty" -> ""))
    assert(out == "acme_x_{missing}_")
  }

  test("buildStringFormatVariables merges tenant metadata + env, reserved keys win") {
    // fixture per FIXTURES.md A6 (ref: src/etl-utils.ts:111-156)
    val root = Files.createTempDirectory(
      Files.createDirectories(Paths.get("target", "tmp")), "tmpl")
    Files.createDirectories(root.resolve("snapshots"))
    Files.write(root.resolve("snapshots/tenant-config.json"),
      """{"hotglue_metadata": {"metadata": {
        |  "custom_key": "custom_val", "reserved": "from_meta"}}}""".stripMargin
        .getBytes(StandardCharsets.UTF_8))
    val conf = GluestickConf(Map(
      "ROOT" -> root.toString,
      "TENANT" -> "acme_sub1",
      "FLOW" -> "f1", "JOB_ID" -> "j1", "TAP" -> "tap1",
      "CONNECTOR_ID" -> "c1", "ENV_ID" -> "e1"))
    val vars = Templating.buildStringFormatVariables(
      Map("reserved" -> "explicit"), conf = conf)
    assert(vars("custom_key") == "custom_val")
    assert(vars("reserved") == "explicit") // reserved keys win over metadata
    assert(vars("tenant") == "acme_sub1")
    assert(vars("root_tenant_id") == "acme")
    assert(vars("sub_tenant_id") == "sub1")
    assert(vars("flow_id") == "f1" && vars("job_id") == "j1")
    assert(vars("tap") == "tap1" && vars("connector") == "c1")
    assert(vars("env_id") == "e1")
    // end-to-end prefix resolution (FIXTURES.md A6 expectation)
    val prefix = Templating.formatStrSafely("{tenant}_{custom_key}_", vars)
    assert(prefix == "acme_sub1_custom_val_")
  }

  test("getIndexSafely is null-safe") {
    assert(Templating.getIndexSafely(Seq(1, 2), 1).contains(2))
    assert(Templating.getIndexSafely(Seq(1, 2), 5).isEmpty)
    assert(Templating.getIndexSafely(Nil, 0).isEmpty)
  }
}
