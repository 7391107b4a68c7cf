"""ingest_source_files: the derived columns, the ignore rules and the schema,
pinned as literal rows (written out from the Column-builder version of the
ingest plan and checked against it)."""

import pytest

ROWS = [
    ("r", "src/App.java", "c1", None, "class A {}"),
    ("r", "app.py", "c1", "custom", "x = 1"),
    ("r", "notes.txt", "c1", None, "hello"),
    ("r", "node_modules/lib/index.js", "c1", None, "var a;"),
    ("r", "pkg/vendor/x.rb", "c1", None, "puts 1"),
    ("r", "repo/.git/hooks/pre.php", "c1", None, "<?php"),
    ("r", "src/xgit/ok.py", "c1", None, "y = 2"),
    ("r", "src/build.gradle/Main.TS", "c1", None, "let é = 1"),
    ("r", "Makefile", "c1", None, "all:"),
    ("r", "a.b/noext", "c1", "ruby", None),
    ("r", "win\\lib.js", "c1", None, "f()"),
]

# (repo, path, commit, lang, content, ext, content_sha256, size_bytes)
KEPT = [
    ("r", "Makefile", "c1", "other", "all:", "",
     "f370f8ba3ff5052c005ab90dbcd384712c7feb15ea0ab6fc3d9a2c82e5b7f02a", 4),
    ("r", "a.b/noext", "c1", "ruby", None, "", None, None),
    ("r", "app.py", "c1", "custom", "x = 1", ".py",
     "8ff436def1451285599a1b1ad70800493b8dcafde2912e1a38345633054e4c26", 5),
    ("r", "src/App.java", "c1", "java", "class A {}", ".java",
     "107310d1668e0941284e7595573d77788d10959a91d6eb1a53c03b4faba0bc97", 10),
    ("r", "src/build.gradle/Main.TS", "c1", "other", "let é = 1", ".TS",
     "e54797e6acc23bb6bd265d44de8e121872210177b6c7effb472884441a0367a1", 10),
    ("r", "src/xgit/ok.py", "c1", "python", "y = 2", ".py",
     "9067770c5cb46d6138a0febaa119d4a5ba583257e2f91dacec22698acb13d4df", 5),
    ("r", "win\\lib.js", "c1", "javascript", "f()", ".js",
     "19c1041342240f320fe4443a0d765a0cf391a93e514c110b5fc172cf283dcafa", 3),
]
# dropped by the ignore rules: an ignored extension, an ignored directory at
# the start of the path and mid-path, and a dotted one
IGNORED = [
    ("r", "node_modules/lib/index.js", "c1", "javascript", "var a;", ".js",
     "be879445c87d7e72059ad71c41a8f0f484d12032e91d14f996d1dabc7db1ae1e", 6),
    ("r", "notes.txt", "c1", "other", "hello", ".txt",
     "2cf24dba5fb0a30e26e83b2ac5b9e29e1b161e5c1fa7425e73043362938b9824", 5),
    ("r", "pkg/vendor/x.rb", "c1", "ruby", "puts 1", ".rb",
     "f2c7db2e825f0b1daa35dd6eedc190cdb1c29a2d2da229835336aa00b22d845e", 6),
    ("r", "repo/.git/hooks/pre.php", "c1", "php", "<?php", ".php",
     "fe5bcb54c56e0b9f456a060364dd28b2248f3a0e21c168d4ce9d009b73e83e3c", 5),
]

SCHEMA = [
    ("repo", "string", False), ("path", "string", False), ("commit", "string", False),
    ("lang", "string", False), ("content", "string", True), ("ext", "string", False),
    ("content_sha256", "string", True), ("size_bytes", "bigint", True),
]


@pytest.mark.parametrize("apply_ignore_rules", [True, False])
def test_ingest_rows_and_schema(spark, apply_ignore_rules):
    from dr_source_spark.schema import SOURCE_FILES
    from dr_source_spark.sources.corpus import ingest_source_files

    out = ingest_source_files(spark.createDataFrame(ROWS, SOURCE_FILES), apply_ignore_rules=apply_ignore_rules)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields] == SCHEMA
    expected = KEPT if apply_ignore_rules else KEPT + IGNORED
    assert sorted(tuple(r) for r in out.collect()) == sorted(expected)
