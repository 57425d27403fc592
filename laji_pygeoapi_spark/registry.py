"""Schema registry — the reference's lookup-table semantics as Python data.

The reference drives its whole pipeline from
``pygeoapi/scripts/resources/lookup_table_columns.csv`` (58 rows): column
rename plan (``process_data.py:86-130``), type casts, query-filter name
translation (``convert_api_filters.py:41-56``) and merge policies
(``edit_db.py:392-397``).  We keep the same registry as structured Python data
and derive from it:

* the single ``select`` projection (rename + cast) for the transform chain,
* the groupBy/agg plan for the merge job,
* the OGC-filter-name -> source-filter-name map.

Types: str -> StringType, int -> LongType (nullable — reference uses
pd.Int64Dtype, ``process_data.py:118``), double -> DoubleType,
datetime -> DateType (coerce semantics, ``process_data.py:120``),
bool -> BooleanType via lowercase map (``process_data.py:122-123``),
geom -> WKB BinaryType.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ColumnSpec:
    api_var: str          # source (finbif API) column name; '' if computed-only
    query_var: str        # OGC/property filter name used by the query API
    dwc: str              # Darwin Core name
    virva: str            # canonical output name
    type: str             # str | int | double | datetime | bool | geom
    merge: str            # GROUPBY | FIRST | AGGREGATE | SUM | MAX | '' (none)


# One entry per reference CSV row (semantics, not a file copy).
COLUMNS: list[ColumnSpec] = [
    ColumnSpec("unit.unitId", "unitId", "occurrenceID", "Havainnon_tunniste", "str", "AGGREGATE"),
    ColumnSpec("unit.linkings.taxon.scientificName", "target", "scientificNameInterpreted", "Tieteellinen_nimi", "str", "FIRST"),
    ColumnSpec("unit.interpretations.individualCount", "individualCountMin", "individualCountInterpreted", "Yksilomaara_tulkittu", "int", "GROUPBY"),
    ColumnSpec("gathering.interpretations.coordinateAccuracy", "coordinateAccuracyMax", "coordinateUncertaintyInMetersInterpreted", "Paikan_tarkkuus_metreina_max", "int", "MAX"),
    ColumnSpec("unit.interpretations.recordQuality", "recordQuality", "occurrenceQuality", "Havainnon_luotettavuus", "str", "FIRST"),
    ColumnSpec("unit.abundanceString", "", "verbatimAbundance", "Maara", "str", "AGGREGATE"),
    ColumnSpec("gathering.interpretations.biogeographicalProvinceDisplayname", "biogeographicalProvinceId", "bioStateProvinceInterpreted", "Eliomaakunta", "str", "FIRST"),
    ColumnSpec("gathering.eventDate.begin", "", "eventDateStart", "Keruu_aloitus_pvm", "datetime", "GROUPBY"),
    ColumnSpec("gathering.eventDate.end", "", "eventDateEnd", "Keruu_lopetus_pvm", "datetime", "GROUPBY"),
    ColumnSpec("gathering.gatheringId", "gatheringId", "eventID", "Keruutapahtuman_tunniste", "str", "AGGREGATE"),
    ColumnSpec("document.collectionId", "collectionId", "collectionID", "Aineiston_tunniste", "str", "GROUPBY"),
    ColumnSpec("unit.breedingSite", "breedingSite", "breedingLocationStatus", "Pesintapaikka", "bool", "GROUPBY"),
    ColumnSpec("unit.det", "", "identifiedBy", "Maarittaja", "str", "AGGREGATE"),
    ColumnSpec("unit.lifeStage", "lifeStage", "lifeStage", "Elinvaihe", "str", "GROUPBY"),
    ColumnSpec("unit.linkings.taxon.id", "taxonId", "taxonID", "Taksonin_tunniste", "str", "GROUPBY"),
    ColumnSpec("unit.notes", "", "occurrenceRemarks", "Havainnon_lisatiedot", "str", "AGGREGATE"),
    ColumnSpec("unit.recordBasis", "recordBasis", "basisOfRecord", "Havaintotapa", "str", "GROUPBY"),
    ColumnSpec("unit.sex", "sex", "sex", "Sukupuoli", "str", "GROUPBY"),
    ColumnSpec("unit.taxonVerbatim", "target", "verbatimIdentification", "Alkuperainen_nimi", "str", "AGGREGATE"),
    ColumnSpec("document.documentId", "documentId", "catalogNumber", "Havaintoeran_tunniste", "str", "AGGREGATE"),
    ColumnSpec("document.notes", "", "documentRemarks", "Havaintoeran_lisatiedot", "str", "GROUPBY"),
    ColumnSpec("document.secureReasons", "secureReason", "documentInformationWithheldReason", "Karkeistuksen_syy", "str", "AGGREGATE"),
    ColumnSpec("gathering.conversions.eurefWKT", "", "footprintWKT_EUREF", "ETRS_TM35FIN_WKT", "str", "GROUPBY"),
    ColumnSpec("gathering.displayDateTime", "time", "eventDateTimeDisplay", "Aika", "str", "GROUPBY"),
    ColumnSpec("gathering.locality", "", "locality", "Sijainti", "str", "GROUPBY"),
    ColumnSpec("gathering.notes", "", "eventRemarks", "Keruutapahtuman_lisatiedot", "str", "AGGREGATE"),
    ColumnSpec("gathering.team", "teamMember", "recordedBy", "Havainnoijat", "str", "GROUPBY"),
    ColumnSpec("unit.keywords", "keyword", "occurrenceKeywords", "Avainsanat", "str", "AGGREGATE"),
    ColumnSpec("unit.linkings.taxon.nameEnglish", "target", "vernacularNameEnglish", "Englanninkielinen_nimi", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.nameFinnish", "target", "vernacularNameFinnish", "Suomenkielinen_nimi", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.nameSwedish", "target", "vernacularNameSwedish", "Ruotsinkielinen_nimi", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.taxonomicOrder", "", "taxonTaxonomicOrder", "Taksonominen_jarjestys", "int", "FIRST"),
    ColumnSpec("document.linkings.collectionQuality", "collectionQuality", "collectionQuality", "Aineiston_laatu", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.latestRedListStatusFinland.status", "redListStatusId", "originalLastRedListStatusID", "Uhanalaisuusluokka", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.administrativeStatuses", "administrativeStatusId", "taxonRegulatoryStatusID", "Hallinnollinen_asema", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.sensitive", "sensitive", "sensitive", "Sensitiivinen_laji", "bool", "FIRST"),
    ColumnSpec("gathering.conversions.eurefCenterPoint.lat", "", "decimalLatitudeEUREF", "ETRS_TM35FIN_N", "double", "GROUPBY"),
    ColumnSpec("gathering.conversions.eurefCenterPoint.lon", "", "decimalLongitudeEUREF", "ETRS_TM35FIN_E", "double", "GROUPBY"),
    ColumnSpec("unit.abundanceUnit", "", "abundanceUnit", "Maaran_yksikko", "str", "GROUPBY"),
    ColumnSpec("unit.linkings.taxon.primaryHabitat.habitat", "primaryHabitat", "originalPrimaryHabitatID", "Ensisijainen_biotooppi", "str", "FIRST"),
    ColumnSpec("unit.atlasClass", "atlasClass", "atlasClassID", "Atlasluokka", "str", "GROUPBY"),
    ColumnSpec("unit.atlasCode", "atlasCode", "atlasCodeID", "Atlaskoodi", "str", "GROUPBY"),
    ColumnSpec("document.siteStatus", "", "siteStatus", "Seurantapaikan_tila", "str", "GROUPBY"),
    ColumnSpec("document.siteType", "", "siteType", "Seurantapaikan_tyyppi", "str", "GROUPBY"),
    ColumnSpec("gathering.stateLand", "onlyNonStateLands", "stateLand", "Valtion_maalla", "bool", "FIRST"),
    ColumnSpec("unit.linkings.taxon.threatenedStatus", "", "threatenedStatusID", "Lajiturva", "str", "FIRST"),
    ColumnSpec("unit.linkings.taxon.vernacularName.fi", "target", "", "Yleiskielinen_nimi", "str", "FIRST"),
    ColumnSpec("document.loadDate", "loadedSameOrAfter", "", "Lataus_pvm", "datetime", "GROUPBY"),
    # the taxonomy broadcast join (J1) materializes the group name as `name`
    ColumnSpec("name", "target", "InformalGroupName", "Elioryhma", "str", "FIRST"),
    ColumnSpec("gathering.interpretations.municipalityDisplayname", "finnishMunicipalityId", "verbatimCounty", "Kunta", "str", "FIRST"),
    ColumnSpec("", "polygon", "geometry", "geometry", "geom", ""),
    ColumnSpec("", "", "", "Esiintyman_tila", "str", "GROUPBY"),
    ColumnSpec("", "", "", "Aineisto", "str", "FIRST"),
    ColumnSpec("", "", "", "Vastuualue", "str", "FIRST"),
    ColumnSpec("", "", "", "Elinvoimakeskus", "str", "FIRST"),
    ColumnSpec("", "", "", "Paikallinen_tunniste", "str", "AGGREGATE"),
    ColumnSpec("", "", "", "Yhdistetty", "int", ""),
]

def merge_policy() -> dict[str, list[str]]:
    """merge_option -> list of virva columns (reference ``edit_db.py:392-397``)."""
    out: dict[str, list[str]] = {"GROUPBY": [], "AGGREGATE": [], "FIRST": [], "SUM": [], "MAX": []}
    for c in COLUMNS:
        if c.merge in out:
            out[c.merge].append(c.virva)
    return out


def filter_name_map() -> dict[str, str]:
    """virva filter name -> source query param (reference ``convert_api_filters.py:41-56``)."""
    return {c.virva: c.query_var for c in COLUMNS if c.query_var}


def output_columns() -> list[str]:
    return [c.virva for c in COLUMNS]


# Biogeographical province id -> name (reference ``compute_variables.py:10-32``).
PROVINCE_NAMES = {
    "ML.251": "Ahvenanmaa", "ML.252": "Varsinais-Suomi", "ML.253": "Uusimaa",
    "ML.254": "Etelä-Karjala", "ML.255": "Satakunta", "ML.256": "Etelä-Häme",
    "ML.257": "Etelä-Savo", "ML.258": "Laatokan Karjala", "ML.259": "Etelä-Pohjanmaa",
    "ML.260": "Pohjois-Häme", "ML.261": "Pohjois-Savo", "ML.262": "Pohjois-Karjala",
    "ML.263": "Keski-Pohjanmaa", "ML.264": "Kainuu", "ML.265": "Oulun Pohjanmaa",
    "ML.266": "Perä-Pohjanmaa", "ML.267": "Koillismaa", "ML.268": "Kittilän Lappi",
    "ML.269": "Sompion Lappi", "ML.270": "Enontekiön Lappi", "ML.271": "Inarin Lappi",
}

# Finland bbox (reference ``pygeoapi/scripts/edit_config.py:79``).
FINLAND_BBOX = (19.083, 59.454, 31.587, 70.092)
