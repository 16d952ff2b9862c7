import pytest


@pytest.fixture(scope="session")
def spark():
    from ssgp_toolbox_spark.session import get_spark

    s = get_spark("ssgp-tests", master="local[4]",
                  extra_confs={"spark.sql.shuffle.partitions": "8"})
    yield s
    s.stop()


@pytest.fixture()
def mixed_stack_images(spark):
    """Three sites with stats columns: stp has history and an extra
    layer; mini has an input and an extra layer but no history; nox
    has history and an input but no extra layer."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import stats

    rows = (generator.site_rows("stp", n_history=4, n_inputs=2)
            + generator.site_rows("mini", n_history=0, n_inputs=1,
                                  shape=(30, 20))
            + [r for r in generator.site_rows("nox", n_history=3,
                                              n_inputs=1, shape=(30, 20))
               if "/extra/" not in r[0]])
    images = stats.with_stats(img_io.with_id_parts(spark.createDataFrame(
        rows, schema=generator.IMAGE_COLUMNS))).cache()
    yield images
    images.unpersist()


@pytest.fixture()
def two_extra_images(spark):
    """Site stp (30x24, 3 history layers, 1 input) with two
    ``role='extra'`` rows; the reference loads exactly one
    Extra/Extra.npy per run (gapfiller.py:830-835)."""
    from ssgp_toolbox_spark import generator
    from ssgp_toolbox_spark.io import images as img_io
    from ssgp_toolbox_spark.operators import stats

    rows = generator.site_rows("stp", n_history=3, n_inputs=1,
                               shape=(30, 24))
    extra = next(r for r in rows if "/extra/" in r[0])
    second = (extra[0].replace("T000000", "T120000"),) + extra[1:]
    assert second[0] != extra[0]
    return stats.with_stats(img_io.with_id_parts(spark.createDataFrame(
        rows + [second], schema=generator.IMAGE_COLUMNS)))
