"""CRS end-to-end (round-4 VERDICT items 1-2, 7): writers persist the
caller's CRS, readers identify it back as EPSG:<code> through every
binary format (reference get_crs semantics, _io.pyx:426-478 /
tests/test_core.py:538-731), read_info derives dtypes from format
declarations (nullable ints stay int64) and reads counts/bounds from
headers with NO Spark job, and list_drivers enumerates r/w flags."""

import sqlite3

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.crs import crs_to_epsg, crs_to_wkt, display_crs, epsg_from_wkt
from pyogrio_spark.geometry import wkb as W

NE = "/root/reference/pyogrio/tests/fixtures/naturalearth_lowres/naturalearth_lowres.shp"

ESRI_MERCATOR = (
    'PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",GEOGCS["GCS_WGS_1984",'
    'DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137.0,298.257223563]],'
    'PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],'
    'PROJECTION["Mercator_Auxiliary_Sphere"],UNIT["Meter",1.0]]'
)  # authority-less Esri .prj, as shipped by ArcGIS


def test_epsg_identification_rules():
    # explicit authority node wins (root = last)
    assert epsg_from_wkt('GEOGCS["x",AUTHORITY["EPSG","9999"]]') == 9999
    # WKT2 ID node
    assert epsg_from_wkt('GEOGCRS["WGS 84",ID["EPSG",4326]]') == 4326
    # EPSG:n spelling
    assert epsg_from_wkt("epsg:3035") == 3035
    # authority-less Esri names
    assert epsg_from_wkt(ESRI_MERCATOR) == 3857
    assert epsg_from_wkt('GEOGCS["GCS_North_American_1983"]') == 4269
    # WGS84 UTM naming pattern
    assert epsg_from_wkt('PROJCS["WGS_1984_UTM_Zone_33N"]') == 32633
    assert epsg_from_wkt('PROJCS["WGS 84 / UTM zone 19S",AUTHORITY["EPSG","32719"]]') == 32719
    # unidentifiable stays None -> display falls back to the WKT itself
    weird = 'PROJCS["Mystery_Grid_1901"]'
    assert epsg_from_wkt(weird) is None
    assert display_crs(weird) == weird


def test_crs_wkt_roundtrip_identification():
    for code in (4326, 3857, 4269, 27700, 32633, 32719, 2154):
        assert epsg_from_wkt(crs_to_wkt(code)) == code
    assert crs_to_epsg("EPSG:31370") == 31370
    with pytest.raises(ValueError, match="cannot interpret"):
        crs_to_wkt("not-a-crs")


@pytest.mark.parametrize("crs", [3857, "EPSG:32633", ESRI_MERCATOR])
def test_crs_roundtrip_all_binary_formats(tmp_path, crs):
    """VERDICT done-criterion: read_info crs round-trips a non-4326
    dataset through shapefile, GeoPackage, and FlatGeobuf."""
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame(
        {
            "v": np.array([1, 2], dtype=np.int64),
            "geometry": [W.encode_point(0.0, 0.0), W.encode_point(100.0, 200.0)],
        }
    )
    want = f"EPSG:{crs_to_epsg(crs)}"
    for ext in (".shp", ".gpkg", ".fgb"):
        path = str(tmp_path / f"t{ext}")
        write_dataframe(pdf, path, crs=crs)
        assert read_info(path)["crs"] == want, ext


def test_no_crs_reads_back_none_all_binary_formats(spark, tmp_path):
    """A frame written with no CRS reads back with none: a GeoPackage
    layer references the spec's undefined cartesian SRS (srs_id -1),
    as a shapefile has no .prj and a FlatGeobuf no Crs table; so does
    the GeoPackage a no-CRS shapefile converts to."""
    from pyogrio_spark.compat import read_info, write_dataframe
    from pyogrio_spark.io.dispatch import convert_dataset

    pdf = pd.DataFrame({"v": [1, 2], "geometry": [W.encode_point(0.0, 0.0), W.encode_point(1.0, 1.0)]})
    for ext in (".shp", ".gpkg", ".fgb"):
        path = str(tmp_path / f"none{ext}")
        write_dataframe(pdf, path)
        assert read_info(path)["crs"] is None, ext
    dst = str(tmp_path / "converted.gpkg")
    assert convert_dataset(spark, str(tmp_path / "none.shp"), dst)["crs"] is None
    con = sqlite3.connect(dst)
    assert con.execute("SELECT srs_id FROM gpkg_geometry_columns").fetchone()[0] == -1
    con.close()


def test_geojson_crs_member_roundtrip(tmp_path):
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame({"geometry": [W.encode_point(1.0, 2.0)]})
    p = str(tmp_path / "m.geojson")
    write_dataframe(pdf, p, crs=3857)
    assert read_info(p)["crs"] == "EPSG:3857"
    p2 = str(tmp_path / "default.geojson")
    write_dataframe(pdf, p2)
    assert read_info(p2)["crs"] == "EPSG:4326"


def test_read_info_headers_only_no_spark(monkeypatch):
    """read_info must not start (or touch) a SparkSession for file
    formats — counts/bounds/dtypes come from headers (VERDICT item 2)."""
    import pyogrio_spark.compat as C

    def boom(spark=None):  # pragma: no cover - would fail the test
        raise AssertionError("read_info must not need Spark")

    monkeypatch.setattr(C, "_spark", boom)
    info = C.read_info(NE)
    assert info["features"] == 177
    assert np.allclose(info["total_bounds"], (-180, -90, 180, 83.64513))
    assert info["dtypes"].tolist() == ["int64", "object", "object", "object", "float64"]
    assert info["crs"] == "EPSG:4326"
    assert info["driver"] == "ESRI Shapefile"
    assert info["fid_column"] == "" and info["geometry_name"] == ""
    assert info["capabilities"]["fast_feature_count"] is True
    assert info["capabilities"]["fast_total_bounds"] is True


def test_read_info_nullable_int_gpkg_reports_int64(tmp_path):
    """The reference reports the declared field type; a nullable int64
    column must NOT degrade to float64 through pandas (VERDICT item 2).
    NULLs are injected post-write so the writer declares INTEGER."""
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame(
        {
            "n": np.array([10, 20, 30], dtype=np.int64),
            "geometry": [W.encode_point(float(i), 0.0) for i in range(3)],
        }
    )
    p = str(tmp_path / "nullint.gpkg")
    write_dataframe(pdf, p)
    con = sqlite3.connect(p)
    con.execute('UPDATE "layer" SET n = NULL WHERE fid = 2')
    con.commit()
    con.close()
    info = read_info(p)
    assert info["fields"].tolist() == ["n"]
    assert info["dtypes"].tolist() == ["int64"]
    assert info["features"] == 3
    assert info["fid_column"] == "fid"
    assert info["geometry_name"] == "geometry_wkb"


def test_read_info_geojsonseq_bounds_none_unless_forced(tmp_path):
    """Reference parity: .geojsonl total_bounds is None unless forced
    (test_core.py test_read_info_force_total_bounds)."""
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame(
        {"geometry": [W.encode_point(1.0, 2.0), W.encode_point(3.0, 4.0)]}
    )
    p = str(tmp_path / "seq.geojsonl")
    write_dataframe(pdf, p)
    assert read_info(p)["total_bounds"] is None
    forced = read_info(p, force_total_bounds=True)
    assert np.allclose(forced["total_bounds"], (1.0, 2.0, 3.0, 4.0))
    assert read_info(p)["driver"] == "GeoJSONSeq"


def test_list_drivers():
    """Access modes compose as r+a+w like the reference (_ogr.pyx
    ogr_list_drivers); append tracks write_dataframe(append=True)
    support (FlatGeobuf refuses)."""
    from pyogrio_spark.compat import list_drivers

    d = list_drivers()
    assert d["ESRI Shapefile"] == "raw" and d["GPKG"] == "raw" and d["OSM"] == "r"
    assert d["FlatGeobuf"] == "rw"
    assert "OSM" not in list_drivers(write=True)
    assert set(list_drivers(read=True)) == set(d)
    assert set(list_drivers(append=True)) == {
        "ESRI Shapefile", "GPKG", "GeoJSON", "GeoJSONSeq",
    }


def test_list_drivers_details():
    """Reference list_drivers_details shape (_ogr.pyx:293-339): dotted
    extensions, GDAL help URL, capability booleans consistent with
    list_drivers."""
    from pyogrio_spark.compat import list_drivers, list_drivers_details

    details = list_drivers_details()
    modes = list_drivers()
    assert set(details) == set(modes)
    for name, d in details.items():
        assert d["long_name"]
        assert d["read"] is ("r" in modes[name])
        assert d["append"] is ("a" in modes[name])
        assert d["write"] is ("w" in modes[name])
        assert all(ext.startswith(".") for ext in d["extensions"])
        assert d["help_topic_url"].startswith("https://gdal.org/")
    assert ".shp.zip" in details["ESRI Shapefile"]["extensions"]
    assert details["GPKG"]["long_name"] == "GeoPackage"


def test_detect_write_driver():
    """Reference test_core.py:120-174 parameter matrix (native-driver
    subset)."""
    import pytest

    from pyogrio_spark.compat import detect_write_driver

    for path, expected in [
        ("test.shp", "ESRI Shapefile"),
        ("test.shp.zip", "ESRI Shapefile"),
        ("test.fgb", "FlatGeobuf"),
        ("test.geojson", "GeoJSON"),
        ("test.geojsonl", "GeoJSONSeq"),
        ("test.gpkg", "GPKG"),
        ("test.gpkg.zip", "GPKG"),
        ("test.json", "GeoJSON"),
    ]:
        assert detect_write_driver(path) == expected
    for path in ["test.pbf", "test.", "test", "test.foo", "FOO:test", "test.zip"]:
        with pytest.raises(ValueError, match="Could not infer driver from path"):
            detect_write_driver(path)


def test_gpkg_layer_metadata_dicts(tmp_path):
    """GPKG identifier/description + gpkg_metadata rows surface as
    layer/dataset metadata dicts (VERDICT item 7; reference returns
    these from read_info, _io.pyx:2391-2397)."""
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame({"geometry": [W.encode_point(1.0, 2.0)]})
    p = str(tmp_path / "md.gpkg")
    write_dataframe(pdf, p)
    con = sqlite3.connect(p)
    con.execute("UPDATE gpkg_contents SET description = 'test layer', identifier = 'pretty name'")
    con.execute(
        "CREATE TABLE gpkg_metadata (id INTEGER PRIMARY KEY, md_scope TEXT, "
        "md_standard_uri TEXT, mime_type TEXT, metadata TEXT)"
    )
    con.execute(
        "CREATE TABLE gpkg_metadata_reference (reference_scope TEXT, table_name TEXT, "
        "column_name TEXT, row_id_value INTEGER, timestamp DATETIME, md_file_id INTEGER, "
        "md_parent_id INTEGER)"
    )
    con.execute(
        "INSERT INTO gpkg_metadata VALUES (1, 'dataset', 'http://gdal.org', 'text/xml', '<x/>')"
    )
    con.execute(
        "INSERT INTO gpkg_metadata_reference VALUES ('geopackage', NULL, NULL, NULL, NULL, 1, NULL)"
    )
    con.commit()
    con.close()
    info = read_info(p)
    assert info["layer_metadata"]["DESCRIPTION"] == "test layer"
    assert info["layer_metadata"]["IDENTIFIER"] == "pretty name"
    assert "<x/>" in list(info["dataset_metadata"].values())


def test_read_dataframe_surfaces_crs(tmp_path):
    from pyogrio_spark.compat import read_dataframe, write_dataframe

    pdf = pd.DataFrame({"geometry": [W.encode_point(1.0, 2.0)]})
    p = str(tmp_path / "crs.fgb")
    write_dataframe(pdf, p, crs="EPSG:32633")
    back = read_dataframe(p)
    assert back.attrs["crs"] == "EPSG:32633"


def test_shapefile_prj_roundtrip_through_engine_reader(tmp_path):
    """Write with a WKT crs, read back through the format reader's own
    info (not just compat)."""
    from pyogrio_spark.io.shapefile import read_shapefile_pdf, write_shapefile

    pdf = pd.DataFrame(
        {"geometry_wkb": [W.encode_point(500000.0, 4649776.0)], "tag": ["a"]}
    )
    p = str(tmp_path / "utm.shp")
    write_shapefile(pdf, p, crs=32633)
    _, info = read_shapefile_pdf(p)
    assert info["crs"] == "EPSG:32633"
    # and an unidentifiable custom WKT comes back verbatim
    weird = 'PROJCS["Mystery_Grid_1901",UNIT["Meter",1]]'
    p2 = str(tmp_path / "weird.shp")
    write_shapefile(pdf, p2, crs=weird)
    _, info2 = read_shapefile_pdf(p2)
    assert info2["crs"] == weird


def test_gpkg_spatial_index_written_and_capability(tmp_path):
    """write_geopackage writes the gpkg_rtree_index extension by default
    (GDAL parity): R*Tree rows per non-null geometry, extension
    registered, and read_info reports fast_spatial_filter=True."""
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame(
        {
            "geometry": [W.encode_point(float(i), float(i)) for i in range(5)] + [None],
        }
    )
    p = str(tmp_path / "rt.gpkg")
    write_dataframe(pdf, p)
    con = sqlite3.connect(p)
    assert con.execute("SELECT count(*) FROM rtree_layer_geometry_wkb").fetchone()[0] == 5
    ext = con.execute(
        "SELECT extension_name FROM gpkg_extensions WHERE table_name='layer'"
    ).fetchone()
    assert ext[0] == "gpkg_rtree_index"
    # envelope row matches the geometry
    row = con.execute("SELECT minx, maxx, miny, maxy FROM rtree_layer_geometry_wkb WHERE id=3").fetchone()
    assert row == (2.0, 2.0, 2.0, 2.0)
    con.close()
    assert read_info(p)["capabilities"]["fast_spatial_filter"] is True
    # no-index write reports False
    p2 = str(tmp_path / "noidx.gpkg")
    write_dataframe(pdf, p2, spatial_index=False)
    assert read_info(p2)["capabilities"]["fast_spatial_filter"] is False
    # append maintains the index
    write_dataframe(pdf.iloc[:2], p, append=True)
    con = sqlite3.connect(p)
    assert con.execute("SELECT count(*) FROM rtree_layer_geometry_wkb").fetchone()[0] == 7
    con.close()


def test_gpkg_distributed_bbox_pushdown_uses_rtree(spark, tmp_path):
    """With the R-tree present, the distributed scan prunes pk ranges on
    the driver: a tight bbox produces fewer chunks than a full scan,
    and results match the unpruned scan exactly."""
    from pyogrio_spark.compat import write_dataframe
    from pyogrio_spark.io.geopackage import read_geopackage

    n = 500
    pdf = pd.DataFrame(
        {
            "v": np.arange(n, dtype=np.int64),
            "geometry": [W.encode_point(float(i % 100), float(i // 100)) for i in range(n)],
        }
    )
    p = str(tmp_path / "big.gpkg")
    write_dataframe(pdf, p)
    bbox = (10.0, 0.0, 20.0, 1.0)
    pruned = read_geopackage(spark, p, distributed=True, chunk_rows=50, bbox=bbox)
    full = read_geopackage(spark, p, distributed=True, chunk_rows=50)
    # pruning happened at the partition level
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    want = {r.v for r in full.collect() if 10.0 <= r.v % 100 <= 20.0 and 0.0 <= r.v // 100 <= 1.0}
    assert {r.v for r in pruned.collect()} == want
    # empty bbox yields an empty frame, not an error
    none = read_geopackage(spark, p, distributed=True, chunk_rows=50, bbox=(300.0, 300.0, 301.0, 301.0))
    assert none.count() == 0


def test_gpkg_metadata_write_roundtrip(tmp_path):
    """write_dataframe metadata dicts persist and round-trip through
    read_info (reference write surface, _io.pyx:2873-2874)."""
    from pyogrio_spark.compat import read_info, write_dataframe

    pdf = pd.DataFrame({"geometry": [W.encode_point(1.0, 2.0)]})
    p = str(tmp_path / "meta.gpkg")
    write_dataframe(
        pdf, p,
        metadata={"IDENTIFIER": "nice name", "DESCRIPTION": "a layer", "source": "unit-test"},
        dataset_metadata={"pipeline": "round4"},
    )
    info = read_info(p)
    assert info["layer_metadata"]["IDENTIFIER"] == "nice name"
    assert info["layer_metadata"]["DESCRIPTION"] == "a layer"
    assert info["layer_metadata"]["source"] == "unit-test"
    assert info["dataset_metadata"] == {"pipeline": "round4"}
    with pytest.raises(ValueError, match="Cannot pass both"):
        write_dataframe(pdf, p, metadata={"a": "b"}, layer_metadata={"c": "d"})
    with pytest.raises(ValueError, match="dict of strings"):
        write_dataframe(pdf, str(tmp_path / "bad.gpkg"), metadata={"a": 1})
    assert read_info(p)["ogr_types"] == [] or True  # key exists
    assert "ogr_types" in info and "ogr_subtypes" in info


def test_mask_filter_prunes_storage_ranges(spark, tmp_path):
    """A mask filter prunes byte/pk ranges by its envelope in both
    indexed distributed scans — exact results preserved by the
    read_table refine."""
    from pyogrio_spark.compat import write_dataframe
    from pyogrio_spark.io.flatgeobuf import write_flatgeobuf, read_flatgeobuf
    from pyogrio_spark.io.geopackage import read_geopackage

    n = 400
    pdf = pd.DataFrame(
        {
            "v": np.arange(n, dtype=np.int64),
            "geometry_wkb": [W.encode_point(float(i % 20), float(i // 20)) for i in range(n)],
        }
    )
    # diamond mask around (5, 5)
    ring = np.array([(3.5, 5.0), (5.0, 3.5), (6.5, 5.0), (5.0, 6.5), (3.5, 5.0)])
    mask = W.encode_polygon([ring])
    want = {
        int(v)
        for v, g in zip(pdf.v, pdf.geometry_wkb)
        if abs(float(v % 20) - 5.0) + abs(float(v // 20) - 5.0) < 1.5
    }

    gp = str(tmp_path / "m.gpkg")
    write_dataframe(pdf.rename(columns={"geometry_wkb": "geometry"}), gp)
    pruned = read_geopackage(spark, gp, distributed=True, chunk_rows=40, mask=mask)
    full = read_geopackage(spark, gp, distributed=True, chunk_rows=40)
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    assert {r.v for r in pruned.collect()} == want

    fp = str(tmp_path / "m.fgb")
    write_flatgeobuf(pdf, fp, index_node_size=16)
    fpruned = read_flatgeobuf(spark, fp, distributed=True, chunk_features=40, mask=mask)
    ffull = read_flatgeobuf(spark, fp, distributed=True, chunk_features=40)
    assert fpruned.rdd.getNumPartitions() < ffull.rdd.getNumPartitions()
    assert {r.v for r in fpruned.collect()} == want


def test_etrs89_utm_identification_roundtrip():
    """ETRS89 / UTM zones (the common European projected CRS family)
    identify by name and serialize full WKT."""
    assert epsg_from_wkt('PROJCS["ETRS_1989_UTM_Zone_32N"]') == 25832
    assert epsg_from_wkt('PROJCS["ETRS89 / UTM zone 33N"]') == 25833
    for code in (25828, 25832, 25838):
        wkt = crs_to_wkt(code)
        assert "GRS_1980" in wkt and "Transverse_Mercator" in wkt
        assert epsg_from_wkt(wkt) == code


def test_nad83_utm_identification_roundtrip():
    """NAD83 / UTM zones 1N-23N (EPSG 26901-26923, the standard North
    American projected grids) identify by name and serialize full WKT
    with the NAD83 datum."""
    assert epsg_from_wkt('PROJCS["NAD_1983_UTM_Zone_14N"]') == 26914
    assert epsg_from_wkt('PROJCS["NAD83 / UTM zone 10N"]') == 26910
    for code in range(26901, 26924):
        wkt = crs_to_wkt(code)
        assert "D_North_American_1983" in wkt and "GRS_1980" in wkt
        assert "Transverse_Mercator" in wkt and "LOCAL_CS" not in wkt
        assert epsg_from_wkt(wkt) == code
    # central meridian arithmetic: zone 14 -> -99
    assert 'PARAMETER["Central_Meridian",-99]' in crs_to_wkt(26914)


def test_common_projected_crs_full_wkt():
    """The ubiquitous non-UTM projected systems (Lambert-93, LAEA
    Europe, Conus Albers) and the NAD27/ETRS89 geographic CRSs carry
    full WKT (not the LOCAL_CS skeleton) and identify both by
    authority and by authority-less name."""
    from pyogrio_spark.crs import crs_to_wkt, epsg_from_wkt

    for code, marker in (
        (2154, "Lambert_Conformal_Conic"),
        (3035, "Lambert_Azimuthal_Equal_Area"),
        (5070, '"Albers"'),
        (4258, "D_ETRS_1989"),
        (4267, "Clarke_1866"),
    ):
        wkt = crs_to_wkt(code)
        assert "LOCAL_CS" not in wkt and marker in wkt, code
        assert epsg_from_wkt(wkt) == code
    # authority-less .prj name identification
    assert epsg_from_wkt('PROJCS["RGF_1993_Lambert_93"]') == 2154
    assert epsg_from_wkt('PROJCS["ETRS_1989_LAEA"]') == 3035
    assert epsg_from_wkt('PROJCS["NAD_1983_Contiguous_USA_Albers"]') == 5070
    assert epsg_from_wkt('GEOGCS["GCS_North_American_1927"]') == 4267
    assert epsg_from_wkt('GEOGCS["GCS_ETRS_1989"]') == 4258


def test_stateplane_identification_roundtrip():
    """NAD83 State Plane (meters) for the highest-traffic zones — both
    the Lambert (CA/TX/NY-LI/FL-N/WA) and Transverse-Mercator
    (NY-E/C/W, FL-E/W) families — serialize full WKT (not the LOCAL_CS
    skeleton) and identify by authority and by authority-less Esri
    .prj name, including the _Feet variants' shared name stem."""
    from pyogrio_spark.crs import _SP_LCC, _SP_TM, crs_to_wkt, epsg_from_wkt

    for code in _SP_LCC:
        wkt = crs_to_wkt(code)
        assert "Lambert_Conformal_Conic" in wkt and "LOCAL_CS" not in wkt, code
        assert "D_North_American_1983" in wkt
        assert epsg_from_wkt(wkt) == code
    for code in _SP_TM:
        wkt = crs_to_wkt(code)
        assert "Transverse_Mercator" in wkt and "LOCAL_CS" not in wkt, code
        assert epsg_from_wkt(wkt) == code
    # authority-less Esri .prj names resolve to the zone, not the datum
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_California_V_FIPS_0405"]') == 26945
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_Texas_Central_FIPS_4203"]') == 32139
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_New_York_Long_Island_FIPS_3104"]') == 32118
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_Florida_East_FIPS_0901"]') == 26958
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_Washington_North_FIPS_4601"]') == 32148
    # spot-check standard SPCS83 parameters
    assert 'PARAMETER["Central_Meridian",-118.0]' in crs_to_wkt(26945)
    assert 'PARAMETER["False_Northing",3000000]' in crs_to_wkt(32139)
    assert 'PARAMETER["Scale_Factor",0.9999]' in crs_to_wkt(32115)


def test_stateplane_binary_format_roundtrip(tmp_path):
    """A state-plane CRS survives a shapefile write/read through the
    engine (the .prj path real users hit)."""
    import pandas as pd

    from pyogrio_spark.compat import read_info, write_dataframe
    from pyogrio_spark.geometry import wkb as W

    pdf = pd.DataFrame(
        {"a": [1], "geometry": [W.encode_point(1900000.0, 550000.0)]}
    )
    shp = tmp_path / "sp.shp"
    write_dataframe(pdf, str(shp), crs=26945)
    assert read_info(str(shp))["crs"] == "EPSG:26945"


def test_stateplane_round7_zones():
    """Round-7 growth zones (PA/CO/OH/VA/NC/MD/MA/MI/OR Lambert,
    IL/GA/AZ/NJ TM) serialize full WKT and identify both ways; the
    generic loop test above covers every table entry — this pins the
    codes themselves against regressions in the tables."""
    from pyogrio_spark.crs import crs_to_wkt, epsg_from_wkt

    expect = {
        32128: "Pennsylvania_North", 26954: "Colorado_Central",
        32122: "Ohio_North", 32146: "Virginia_North",
        32119: "North_Carolina", 26985: "Maryland",
        26986: "Massachusetts_Mainland", 26989: "Michigan_Central",
        32126: "Oregon_North", 26971: "Illinois_East",
        26966: "Georgia_East", 26949: "Arizona_Central",
        32111: "New_Jersey",
    }
    for code, frag in expect.items():
        wkt = crs_to_wkt(code)
        assert frag in wkt and "LOCAL_CS" not in wkt, code
        assert epsg_from_wkt(wkt) == code
    # authority-less Esri names resolve to the zone
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_Michigan_South_FIPS_2113"]') == 26990
    assert epsg_from_wkt('PROJCS["NAD_1983_StatePlane_New_Jersey_FIPS_2900"]') == 32111
    # spot-check SPCS83 parameters
    assert 'PARAMETER["False_Easting",914401.8289]' in crs_to_wkt(26953)
    assert 'PARAMETER["Scale_Factor",0.999975]' in crs_to_wkt(26971)
    assert 'PARAMETER["False_Northing",2000000]' in crs_to_wkt(32146)
