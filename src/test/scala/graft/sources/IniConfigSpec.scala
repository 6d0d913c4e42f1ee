package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class IniConfigSpec extends AnyFunSuite {
  private val sample =
    """[default]
      |transform_config_dir = /opt/config
      |; comment line
      |[dcc_transforms]
      |datetransform_type = dob_shifting
      |standard_date = 2010-01-01
      |field_map_file = %(transform_config_dir)s/fields.csv
      |[redcap]
      |api_url = https://example.org/api/
      |project_id = 42
      |""".stripMargin

  test("sections, keys, comments") {
    val c = IniConfig.parse(sample)
    assert(c.get("dcc_transforms", "datetransform_type").contains("dob_shifting"))
    assert(c.get("redcap", "project_id").contains("42"))
    assert(c.get("default", "transform_config_dir").contains("/opt/config"))
  }

  test("%(name)s interpolation falls back to [default] like ConfigParser") {
    val c = IniConfig.parse(sample)
    assert(c.resolved("dcc_transforms", "field_map_file")
      .contains("/opt/config/fields.csv"))
  }

  test("missing key → None; unresolvable interpolation left intact") {
    val c = IniConfig.parse(sample)
    assert(c.get("redcap", "nope").isEmpty)
    val c2 = IniConfig.parse("[a]\nx = %(missing)s/y\n")
    assert(c2.resolved("a", "x").contains("%(missing)s/y"))
  }

  test("load decodes the file as UTF-8 (non-ASCII values)") {
    val f = java.nio.file.Files.createTempFile("graft", ".ini")
    java.nio.file.Files.write(f, "[site]\nname = Zürich café 🍕\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(IniConfig.load(f.toString).get("site", "name")
      .contains("Zürich café 🍕"))
  }
}
