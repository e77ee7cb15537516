"""F22/F23 lookup tables: license code → vocabulary-URI suffix and
abstract-origin variant → canonical origin label.

The emit kernel (emit/arrow.license_uri, abstract_origin) and the golden
oracle read them:
- F23: the reference's ~25-branch if/elif over COPR |c
  (convert_starxml_to_bf.py:155-243) — these exact codes first, then
  prefix/contains fallbacks, in source order.
- F22: the reference's abstract.py:41-58 over the lists in
  modules/mappings.py:176-325, first list wins.
"""

from __future__ import annotations

from psyndex2linkeddata_spark.data import tables

_EXACT_LICENSE_CODES = {
    "CC": "C00_1_0",
    "PDM": "PDM_1_0",
    "CC BY 4.0": "CC_BY_4_0",
    "CC BY-SA 4.0": "CC_BY-SA_4_0",
    "CC BY-NC-ND 3.0": "CC_BY-NC-ND_3_0",
    "CC BY-NC-ND 4.0": "CC_BY-NC-ND_4_0",
    "CC BY-NC 1.0": "CC_BY-NC_1_0",
    "CC BY-NC 4.0": "CC_BY-NC_4_0",
    "CC BY-NC-ND 2.5": "CC_BY-NC-ND_2_5",
    "CC BY-NC-SA 4.0": "CC_BY-NC-SA_4_0",
    "CC BY-ND 4.0": "CC_BY-ND_4_0",
    "CC BY-ND 2.5": "CC_BY-ND_2_5",
    "CC BY": "CC_BY",
    "CC BY-NC": "CC_BY-NC",
    "CC BY-NC-SA": "CC_BY-NC-SA",
    "CC BY-SA": "CC_BY-SA",
    "CC BY-NC-ND": "CC_BY-NC-ND",
    "CC0 1.0": "C00_1_0",
}


_ORIGIN_MAP: dict[str, str] = {}
for values, canon in [
    (tables.abstract_origin_original, "Original"),
    (tables.abstract_origin_zpid, "ZPID"),
    (tables.abstract_origin_deepl, "DeepL"),
    (tables.abstract_origin_gesis, "GESIS"),
    (tables.abstract_origin_fis_bildung, "FIS Bildung"),
    ((tables.abstract_origin_krimz,) if isinstance(tables.abstract_origin_krimz, str) else tables.abstract_origin_krimz, "KrimZ"),
]:
    for v in values:
        _ORIGIN_MAP.setdefault(v, canon)

