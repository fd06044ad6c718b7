package graft.pipeline

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The YAML-subset loader against the reference's own config file
  * (config/indexer-config.yaml — the file a user of the reference
  * would port verbatim), plus the parser's corner surface.
  */
class YamlSpec extends AnyFunSuite {

  test("scalars: quotes, ints, floats, bools, null, comments") {
    val doc = Yaml.parse(
      """# top comment
        |a: 1
        |b: "2GB"  # trailing comment
        |c: 'single'
        |d: true
        |e: 0.5
        |f: null
        |g: ""
        |url: "duckdb:///data/fs_index.duckdb"
        |anchor: "#not-a-comment"
        |""".stripMargin)
    assert(Yaml.long(doc, "a").contains(1L))
    assert(Yaml.str(doc, "b").contains("2GB"))
    assert(Yaml.str(doc, "c").contains("single"))
    assert(Yaml.bool(doc, "d").contains(true))
    assert(Yaml.at(doc, "e").contains(0.5))
    assert(Yaml.at(doc, "f").contains(null))
    assert(Yaml.str(doc, "g").contains(""))
    assert(Yaml.str(doc, "url").contains("duckdb:///data/fs_index.duckdb"))
    assert(Yaml.str(doc, "anchor").contains("#not-a-comment"))
  }

  test("apostrophe in a plain scalar stays literal; comment still strips") {
    val doc = Yaml.parse(
      """path: /users/o'brien  # prod mount
        |who: o'brien
        |""".stripMargin)
    assert(Yaml.str(doc, "path").contains("/users/o'brien"))
    assert(Yaml.str(doc, "who").contains("o'brien"))
  }

  test("graft extension keys load from YAML, not just overrides") {
    val doc =
      """root_path: /data
        |database:
        |  connection:
        |    url: "duckdb:///idx/store.duckdb"
        |snapshot_files: 8
        |""".stripMargin
    val cfg = IndexerConfig.loadYaml(doc)
    assert(cfg.snapshotFiles == 8)
    assert(cfg.indexRoot == "/idx/store.duckdb")
  }

  test("nested maps, block lists, inline lists") {
    val doc = Yaml.parse(
      """outer:
        |  inner:
        |    k: v
        |  empty:
        |  nums: [1, 2, 3]
        |  types: ["last_updated", "fsentry_id"]
        |patterns:
        |  - ".git"
        |  - "*.tmp"
        |  - "*~"
        |""".stripMargin)
    assert(Yaml.str(doc, "outer", "inner", "k").contains("v"))
    assert(Yaml.at(doc, "outer", "empty").contains(null))
    assert(Yaml.list(doc, "outer", "nums").contains(List(1L, 2L, 3L)))
    assert(Yaml.list(doc, "outer", "types")
      .contains(List("last_updated", "fsentry_id")))
    assert(Yaml.list(doc, "patterns")
      .contains(List(".git", "*.tmp", "*~")))
  }

  test("the reference's indexer-config.yaml parses, verbatim") {
    val p = Paths.get("/root/reference/config/indexer-config.yaml")
    assume(Files.exists(p), "reference config not present")
    val doc = Yaml.parse(Files.readString(p))
    // the key surface a reference user depends on
    assert(Yaml.str(doc, "mode").contains("elasticsearch"))
    assert(Yaml.bool(doc, "lucidlink_filespace", "get_direct_links")
      .contains(true))
    assert(Yaml.long(doc, "lucidlink_filespace", "lucidlink_version")
      .contains(3L))
    assert(Yaml.str(doc, "elasticsearch", "index_name")
      .contains("filespace"))
    assert(Yaml.long(doc, "elasticsearch", "bulk_size").contains(100000L))
    assert(Yaml.str(doc, "database", "connection", "url")
      .contains("duckdb:///data/fs_index.duckdb"))
    assert(Yaml.long(doc, "database", "connection", "options", "threads")
      .contains(10L))
    assert(Yaml.str(doc, "database", "connection", "options",
      "memory_limit").contains("32GB"))
    assert(Yaml.list(doc, "database", "tables", "direct_links",
      "index_types").contains(List("last_updated", "fsentry_id")))
    assert(Yaml.long(doc, "performance", "batch_sizes", "scan")
      .contains(100000L))
    assert(Yaml.bool(doc, "performance", "parallel_processing",
      "use_top_level").contains(true))
    assert(Yaml.str(doc, "performance", "parallel_processing",
      "top_level_settings", "size_threshold").contains("1TB"))
    assert(Yaml.at(doc, "v3_settings").isEmpty) // nested, not top-level
    assert(Yaml.at(doc, "lucidlink_filespace", "v3_settings",
      "retry_delay_seconds").contains(0.5))
    val pats = Yaml.list(doc, "skip_patterns", "patterns").get
    assert(pats.size == 26 && pats.contains(".DS_Store") &&
      pats.contains("node_modules") && pats.contains("*~"))
    assert(Yaml.bool(doc, "skip_patterns", "hidden_files").contains(true))
    assert(Yaml.str(doc, "logging", "level").contains("INFO"))
  }

  test("IndexerConfig.loadYaml maps the reference surface + overrides") {
    val p = Paths.get("/root/reference/config/indexer-config.yaml")
    assume(Files.exists(p), "reference config not present")
    // root_path is "" in the file → must come from the CLI override,
    // exactly the reference's --root-path flow (main.py:44-47)
    val cfg = IndexerConfig.loadYaml(Files.readString(p),
      Map("root_path" -> "/mnt/fs"))
    assert(cfg.rootPath == "/mnt/fs")
    assert(cfg.mode == "elasticsearch")
    assert(cfg.esIndex == "filespace")
    assert(cfg.esBatchSize == 100000)
    assert(cfg.getDirectLinks)
    assert(!cfg.includeHidden)
    assert(cfg.indexRoot == "/data/fs_index.duckdb")
    assert(cfg.skipPatterns.contains("node_modules") &&
      cfg.skipPatterns.size == 26)
    // overrides win over the file
    val cfg2 = IndexerConfig.loadYaml(Files.readString(p),
      Map("root_path" -> "/mnt/fs", "mode" -> "index-only",
        "index_root" -> "/tmp/idx", "es_batch_size" -> "500"))
    assert(cfg2.mode == "index-only" && cfg2.indexRoot == "/tmp/idx")
    assert(cfg2.esBatchSize == 500)
  }
}
