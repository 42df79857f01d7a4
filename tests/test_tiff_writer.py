"""Byte-level pins for the TIFF writers (sources/tiff_writer.py and its callers).

Each case writes one file through a public writer and compares its sha256
with a digest recorded before the container serializer was shared between
geo/cog_writer.py and sources/tiff_fixture.py. A refactor of the writers
that changes any byte of these files fails here, so this grid is the gate
for "same output from less code". It covers classic and BigTIFF, both byte
orders, strips and tiles, predictors 1/2/3, uncompressed and LZW payloads,
and COGs with several overview levels and EPSG 5070 / 4326 / none. Deflate
is left out: its bytes depend on the installed zlib or libdeflate build.
The arrays are integer arithmetic, exact in float32, so the digests do not
depend on the host's math library.
"""

from __future__ import annotations

import ast
import hashlib
import inspect
import itertools

import numpy as np
import pytest

from wri_data_processing_spark.geo.cog_writer import write_cog
from wri_data_processing_spark.sources import tiff_fixture, tiff_header, tiff_writer


def _array(h: int, w: int, dtype: str) -> np.ndarray:
    vals = (np.arange(h * w, dtype=np.int64) * 7919) % 1000 - 500
    arr = vals.reshape(h, w).astype(dtype)
    if arr.dtype.kind == "f":
        arr = arr / 8
        arr[2:4, 3:6] = np.nan  # a nodata hole, as the rasters carry
    return arr


_MINIMAL = [f"minimal|{c}|{en}" for c, en in itertools.product(["classic", "bigtiff"], "<>")]
_GRID = [
    f"grid|{container}|{en}|{layout}|p{predictor}"
    for container, en, layout, predictor in itertools.product(
        ["classic", "bigtiff"], "<>", ["strips", "tiles"], [1, 2, 3]
    )
]
_COG = [
    f"cog|{container}|{en}|{compression}|p{predictor}|{epsg}"
    for container, en, compression, predictor, epsg in itertools.product(
        ["classic", "bigtiff"], "<>", ["none", "lzw"], [1, 3], [5070, 4326, None]
    )
]


def _write(case: str, path: str) -> None:
    kind, container, en, *rest = case.split("|")
    bigtiff = container == "bigtiff"
    if kind == "minimal":
        write = tiff_fixture.write_classic_geotiff
        if bigtiff:
            write = tiff_fixture.write_bigtiff_geotiff
        write(path, en=en, width=9, height=6)
    elif kind == "grid":
        layout, predictor = rest[0], int(rest[1][1:])
        arr = _array(13, 11, "i2" if predictor == 2 else "f4")
        tiff_fixture.write_geotiff_grid(
            path, arr, en=en, bigtiff=bigtiff, tiled=layout == "tiles", predictor=predictor,
            tile=8, rows_per_strip=3, compression="lzw",
        )
    else:
        compression, predictor, epsg = rest[0], int(rest[1][1:]), rest[2]
        info = write_cog(
            path, _array(37, 29, "f4"), xmin=-10.5, ymax=20.25, res_x=0.5, res_y=0.25,
            epsg=None if epsg == "None" else int(epsg), tile=8, en=en, predictor=predictor,
            compression=compression, bigtiff=bigtiff,
        )
        assert info["n_overviews"] == 3


# sha256 of each case's file, recorded on the writers before they shared
# sources/tiff_writer.py.
DIGESTS = {
    "minimal|classic|<": "c8e1d95fae6af1778c41ea4c048d3fbfa85472cef8b098d22fdd95783b457c08",
    "minimal|classic|>": "e1ac76d8ab8d10e9bd9bae062ab1ae02a1495b08f5d0714e94d03b78afb4f36c",
    "minimal|bigtiff|<": "aa078c0b457ab17f1217c98cfd56e11e1ffffed1bbea365b42e255b46e4bee20",
    "minimal|bigtiff|>": "34fd1c329a9d0bf1bf9bd8aace3e928c3ed67b26240a8d6d67e4d990419447d5",
    "grid|classic|<|strips|p1": "64c7ef901c86f68eb1d3978854d0a004f34744886fbb6a63b1b232b4a17221bc",
    "grid|classic|<|strips|p2": "8f3ad17db0dcea141d33bed3f1c971f23b1f805205ebfd8917655343cd69f729",
    "grid|classic|<|strips|p3": "ed2c40a8e1222e35d760d07eb61d30239660a15023789e5d09f0babb7a134fc3",
    "grid|classic|<|tiles|p1": "1ac0890394daf47fe6703897dc272693f34bcc9c0b675ae37450ac61b834dfc3",
    "grid|classic|<|tiles|p2": "eed5b4f1c81722a6c25751b6df1df59c733f8d1f9f386d576028ef4ffc76605b",
    "grid|classic|<|tiles|p3": "a5f6c955688d68337599a6ef99cee7d16689b3b8ae1b7a0843f1b7a5589be37a",
    "grid|classic|>|strips|p1": "293f9e8d343979ec7cf0292c669d728eb1d842a3749350ce55ca21eb8c4a1810",
    "grid|classic|>|strips|p2": "f269b94f0e193ee2eb9167f2ef115474ebdb02ce67946e060d6b955d8a2a6946",
    "grid|classic|>|strips|p3": "9c8e952df483124cb1b2a5ebb699fea815f43888ee73f2e6085240c0d46c38e8",
    "grid|classic|>|tiles|p1": "f09d67b26ee3328eb732ac6f26250874ec232a205c9c4fb7842b1b7446890236",
    "grid|classic|>|tiles|p2": "20228215541e85e3fa8c85842418ec8fb64495ef133e8347238d2e3449036948",
    "grid|classic|>|tiles|p3": "ca174c97415050409baff9a360e71bbf1570e0e5d32fabfcbc198b01ee9df4d6",
    "grid|bigtiff|<|strips|p1": "e3c5bfd0d3f6deded77a6a9f9031bfbfc3914f3a9c31a9bde21f2f5a863d9a1c",
    "grid|bigtiff|<|strips|p2": "087e0f9da846c81feb0fff2936749be572f896fc1b9c517e32a73a82b1b9138a",
    "grid|bigtiff|<|strips|p3": "0c99f026dd7730652b30aa54bcd48c8379b4b8d1d955c9dc873837ac5ec47970",
    "grid|bigtiff|<|tiles|p1": "ba63a7825c7cba427c456bbf2bf89690b2cc3c1e7353ba9447cf8883f34888ac",
    "grid|bigtiff|<|tiles|p2": "08f7c57ae906c44374d772054a66ebc6c9353de2c07bf769c919ec196cf541ce",
    "grid|bigtiff|<|tiles|p3": "f0fc36d4ede6fb4669702016c5f1d97e9f4c2d5bdb689a5d2848f0e119ca2087",
    "grid|bigtiff|>|strips|p1": "dcf5b819edacad734becf7c6a23e8d8e7758657e68c1a6a0246ba51e51eccd47",
    "grid|bigtiff|>|strips|p2": "d43158e0e260c228de9dc8f7a98b3dd2f3db5b249cdbdd6111dd1247086a1312",
    "grid|bigtiff|>|strips|p3": "062a2a938ff4e5f65203347d06e80dc68c932c181c344945735f1b348e3976cd",
    "grid|bigtiff|>|tiles|p1": "393fd52a6bbaf590dfd76c65db516f0a0635ac035c828213e561b2e7206a5f3a",
    "grid|bigtiff|>|tiles|p2": "19e7ba2a47635cb904976d50f621537b9cc5c732f323ca7d793cd3300947d6d0",
    "grid|bigtiff|>|tiles|p3": "f5726543ce898376aca8a2a0e0d3ced22bc87d7b50f5c47a8d223f56d6a32fd1",
    "cog|classic|<|none|p1|5070": "1cc9737ca524cd5520917695d351611acdfbaaed20ab7b9655e0d5a8233a529f",
    "cog|classic|<|none|p1|4326": "b970f9465b5640afbc8d61dbe8e3c9ae2ef957ff0985a4701dca267d3f9e13a1",
    "cog|classic|<|none|p1|None": "05fc56d0c1965dad357102080ae7448f1907f03ca6631c3490f94af41dda655e",
    "cog|classic|<|none|p3|5070": "1d5bc4f27e3af086cbb63eaa8c1cac02db887706dfa317a48c87b4c45f888901",
    "cog|classic|<|none|p3|4326": "41d61dc10111df573cdd29a13c176c5ffb65d71fd6ca8760313ab6491c3dbc4e",
    "cog|classic|<|none|p3|None": "5f04cd263b7225cdbf2181528adc81128d0c902059cf47ce05e1b7b0e8926ed9",
    "cog|classic|<|lzw|p1|5070": "4c2f7563defa80f43093d5002d519e898dc166a169011c3be4dec04ae6a88b27",
    "cog|classic|<|lzw|p1|4326": "24920c69002e015915f53160af6c3bb7dc4b1706fc2009b0cbc795bab896950d",
    "cog|classic|<|lzw|p1|None": "2179ccf2108615756dc2542971c58d05d1b5f579b5f2799f3d61c4581456a5df",
    "cog|classic|<|lzw|p3|5070": "d5999a61e69c5912d6ff870a0af35c913a23ca24a9188b1119cc75087170d88b",
    "cog|classic|<|lzw|p3|4326": "bef91c733b081f7f5936551bddabebbc315eb014ca84ebf7edfdefc4c0c6a948",
    "cog|classic|<|lzw|p3|None": "f3a3d999a9f7b8fad085f8722e37d2b13637ea935734a3883adea2a999baec61",
    "cog|classic|>|none|p1|5070": "0d74e88047d84f7b26a12e98fd16ebbe4b623653cf71891298a3c347dba9ef3c",
    "cog|classic|>|none|p1|4326": "ac709d513512cf413f73f3ad53ffd7f690eea9079596640a26adbbe8bc61fa11",
    "cog|classic|>|none|p1|None": "5dd6bdc700b00e6ede1770f5e8f7fbb8203c9989ba91ceb1cdec12426c894759",
    "cog|classic|>|none|p3|5070": "363836b7e717a0b0ffb26879a7dd993740dbf9655125c1a82f27a4b0c23be783",
    "cog|classic|>|none|p3|4326": "6223dc8bf6106929755edee32eb9deba46e389f204cd9ad479cfedf9ea13ee6a",
    "cog|classic|>|none|p3|None": "9890dc95d4e2edc8306c8087b6727d52d6d3a4b8ebbf6ee9b99fd014ba217c3a",
    "cog|classic|>|lzw|p1|5070": "8a5660f99846db70faea44a82f50e21e8ff90cd8b0de927eca473b5cdf0366b6",
    "cog|classic|>|lzw|p1|4326": "4d72cb47afb1706c1eb66e4e5707f0dfa1b4bc906ee0d0d4ccf6ec0b8a54582f",
    "cog|classic|>|lzw|p1|None": "5fcc9d80245549b76b6227f193bb1dee2428f750ee5b914649716071b1668576",
    "cog|classic|>|lzw|p3|5070": "aeec0c457c71fa2d23e9a854386d7bf4ee227c97f607397cf7eac83091c27ba0",
    "cog|classic|>|lzw|p3|4326": "3b6934beab8d7431f768ebd85f6eb9e578b53c710b9860d560c18ed00c838533",
    "cog|classic|>|lzw|p3|None": "97f76f7cc9eb90117c773fb9cbae287edea903b6b721521ecaf58cfea25831d3",
    "cog|bigtiff|<|none|p1|5070": "8b18bb6d64c725093f26d619e0d6cf81ec053090c5cda580b2c59a53feed398c",
    "cog|bigtiff|<|none|p1|4326": "f694af7acc82da42701d118eaa12e72b723551683ed829933cd8819d47d78704",
    "cog|bigtiff|<|none|p1|None": "0e76711496c197b3f9bfd47d7dfbf8b567391c278f814f80a27e90e0ea8f89eb",
    "cog|bigtiff|<|none|p3|5070": "7394711acc94d76eb4a4e00584c53c19e70bfc116abed9beccc087661f314817",
    "cog|bigtiff|<|none|p3|4326": "3a7c4c9fa9f29d6f7c945d3c61f554097523863e9c064400e09767202403af9a",
    "cog|bigtiff|<|none|p3|None": "2afeb6041a6722d78ba947e3c0714ea51b66ca1148a68a1d81be11f7cfecaf06",
    "cog|bigtiff|<|lzw|p1|5070": "b4ecd3ad68280c1e0b7409ccb544fd9cb8faedf9186dac5c94573fb660af7c4b",
    "cog|bigtiff|<|lzw|p1|4326": "044ead688a65265b3023df8e30616fdcd08f85bdf63be9616d31137e276d0302",
    "cog|bigtiff|<|lzw|p1|None": "3aae099c9ac70c61bf32201149c456225840b1f1ded081271f3d5115d15107d0",
    "cog|bigtiff|<|lzw|p3|5070": "3dc2aa12d9208a93b588073bda07b9d191efe502401e204b806e1e77c7d16e9f",
    "cog|bigtiff|<|lzw|p3|4326": "dd59c069f5054150531bffeca2be9cc8990a7011c31cbed9e37d9e7c8256ac9b",
    "cog|bigtiff|<|lzw|p3|None": "054d01240b7a00c5e8a2bcc46b5aa7de62cdeaf15981114f2fc8a7cf31ad1efd",
    "cog|bigtiff|>|none|p1|5070": "b9be3a506c1dde1bf278acf3ddc8826668645db44b3c6aeb158c1c097cdc4af3",
    "cog|bigtiff|>|none|p1|4326": "3e63d857fca083fadda2ff34cd3e2f4fc9fd918ed08a95b6abeb8b59bdedcc1e",
    "cog|bigtiff|>|none|p1|None": "ce147995216aa9d2dd691f75fc48dafb379b1fe85435f6858efea1f3cee477ef",
    "cog|bigtiff|>|none|p3|5070": "8f8334e2d8e8ef2f941f8fde7d4dc3fcd3ac8fc97dc26553a29896928d771505",
    "cog|bigtiff|>|none|p3|4326": "c5d8b84fb016091c97b2add61cf4d5475157a15a33c41095ec4481a8c968772e",
    "cog|bigtiff|>|none|p3|None": "35e3b9a9087a17848c9aa905c150fb58e7d34fd09ad1c3f2f476cbc15da8a11f",
    "cog|bigtiff|>|lzw|p1|5070": "cc0ec822b3dca0cb757f4463b6471471c9d6e84167b8d341b19e2d4192de3478",
    "cog|bigtiff|>|lzw|p1|4326": "fcc958d53d5cba5dc3b72d851d8ed8d7084e49ef76e35d040c5a5c7d38ac2347",
    "cog|bigtiff|>|lzw|p1|None": "c1401646e5487db5843f0b568e28b2f5bf44a2928be635ca7fbeea5f6b608ce1",
    "cog|bigtiff|>|lzw|p3|5070": "9a5e4d8cae4134b5907184b664e1e56f202080fdbf896fd7f3d5983784bb375c",
    "cog|bigtiff|>|lzw|p3|4326": "a8d0fb38cab9e2cd9d534e719c96f9fbfc753e2fc3fc061d55b4f4faef285cfb",
    "cog|bigtiff|>|lzw|p3|None": "0f4191a0c44de4057eabc5b59b4533c83a7c8086ea139fe32225dc77a6313a53",
}


@pytest.mark.parametrize("case", _MINIMAL + _GRID + _COG)
def test_writer_bytes_are_pinned(tmp_path, case):
    path = str(tmp_path / "pinned.tif")
    _write(case, path)
    with open(path, "rb") as f:
        assert hashlib.sha256(f.read()).hexdigest() == DIGESTS[case]


def _imports(module) -> set[str]:
    tree = ast.parse(inspect.getsource(module))
    nodes = [n for n in ast.walk(tree) if isinstance(n, (ast.Import, ast.ImportFrom))]
    return {getattr(n, "module", None) or "" for n in nodes} | {a.name for n in nodes for a in n.names}


def test_writer_and_reader_share_no_header_logic():
    """The raster ops' oracles compare what the writer was asked to write
    with what the reader parses; that checks the layout only while neither
    module imports the other."""
    assert not any("tiff_header" in name for name in _imports(tiff_writer))
    assert not any("tiff_writer" in name for name in _imports(tiff_header))
