"""Test helper: a checkpointed crawl's durable seen set lives in the warehouse
(one bucketed table per ckpt dir), so deleting the ckpt dir alone leaks it."""

import shutil
from urllib.parse import urlparse

from od_database_spark.operators import frontier as fr


def purge_table(spark, table):
    # compaction rolls the name through generations — purge those too
    for name in [table] + [f"{table}__g{g}" for g in range(1, 6)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = urlparse(
            spark.conf.get("spark.sql.warehouse.dir").rstrip("/") + "/" + name
        ).path
        shutil.rmtree(loc, ignore_errors=True)


def purge_ckpt(spark, ckpt_dir):
    """Remove a ckpt dir and the seen table(s) it owns."""
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    purge_table(spark, fr._derived_seen_table(str(ckpt_dir)))
