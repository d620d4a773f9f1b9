"""Full ISO 3166-1 country universe — the pycountry analog.

The reference normalizes country identifiers against ALL of pycountry
(``crime_immigration_etl.py:16-28``): every country contributes its
lowercased name, alpha-2, alpha-3, and (when defined) official name as
alias keys mapping to the canonical short name. Earlier rounds carried
only 35 European ISO2 codes (``plans/star.py``); this module restores
the reference's full ~249-entry universe from public ISO 3166-1 data.

Design for Spark: the universe is a static broadcast relation (a few KB
— the canonical "small dim" case). ``alias_relation`` explodes each
country into its alias rows exactly as the reference's
``map_countries()`` loop does, with LAST-writer-wins on alias
collisions (dict semantics in the reference: later countries overwrite
earlier ones for a clashing alias key).

Eurostat quirks (``crime_immigration_etl.py:271-276`` via
country_converter): EL → Greece and UK → United Kingdom are appended as
extra aliases — they are not ISO 3166-1 codes but appear in Eurostat
``geo`` columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.readers import local_frame

# (alpha2, alpha3, name, official_name | None) — ISO 3166-1, public data.
# Names follow the ISO short-name convention pycountry exposes as
# ``country.name``; official_name is ISO's long form where one exists.
COUNTRIES: tuple[tuple[str, str, str, str | None], ...] = (
    ("AW", "ABW", "Aruba", None),
    ("AF", "AFG", "Afghanistan", "Islamic Republic of Afghanistan"),
    ("AO", "AGO", "Angola", "Republic of Angola"),
    ("AI", "AIA", "Anguilla", None),
    ("AX", "ALA", "Åland Islands", None),
    ("AL", "ALB", "Albania", "Republic of Albania"),
    ("AD", "AND", "Andorra", "Principality of Andorra"),
    ("AE", "ARE", "United Arab Emirates", None),
    ("AR", "ARG", "Argentina", "Argentine Republic"),
    ("AM", "ARM", "Armenia", "Republic of Armenia"),
    ("AS", "ASM", "American Samoa", None),
    ("AQ", "ATA", "Antarctica", None),
    ("TF", "ATF", "French Southern Territories", None),
    ("AG", "ATG", "Antigua and Barbuda", None),
    ("AU", "AUS", "Australia", None),
    ("AT", "AUT", "Austria", "Republic of Austria"),
    ("AZ", "AZE", "Azerbaijan", "Republic of Azerbaijan"),
    ("BI", "BDI", "Burundi", "Republic of Burundi"),
    ("BE", "BEL", "Belgium", "Kingdom of Belgium"),
    ("BJ", "BEN", "Benin", "Republic of Benin"),
    ("BQ", "BES", "Bonaire, Sint Eustatius and Saba", None),
    ("BF", "BFA", "Burkina Faso", None),
    ("BD", "BGD", "Bangladesh", "People's Republic of Bangladesh"),
    ("BG", "BGR", "Bulgaria", "Republic of Bulgaria"),
    ("BH", "BHR", "Bahrain", "Kingdom of Bahrain"),
    ("BS", "BHS", "Bahamas", "Commonwealth of the Bahamas"),
    ("BA", "BIH", "Bosnia and Herzegovina", "Republic of Bosnia and Herzegovina"),
    ("BL", "BLM", "Saint Barthélemy", None),
    ("BY", "BLR", "Belarus", "Republic of Belarus"),
    ("BZ", "BLZ", "Belize", None),
    ("BM", "BMU", "Bermuda", None),
    ("BO", "BOL", "Bolivia, Plurinational State of", "Plurinational State of Bolivia"),
    ("BR", "BRA", "Brazil", "Federative Republic of Brazil"),
    ("BB", "BRB", "Barbados", None),
    ("BN", "BRN", "Brunei Darussalam", None),
    ("BT", "BTN", "Bhutan", "Kingdom of Bhutan"),
    ("BV", "BVT", "Bouvet Island", None),
    ("BW", "BWA", "Botswana", "Republic of Botswana"),
    ("CF", "CAF", "Central African Republic", None),
    ("CA", "CAN", "Canada", None),
    ("CC", "CCK", "Cocos (Keeling) Islands", None),
    ("CH", "CHE", "Switzerland", "Swiss Confederation"),
    ("CL", "CHL", "Chile", "Republic of Chile"),
    ("CN", "CHN", "China", "People's Republic of China"),
    ("CI", "CIV", "Côte d'Ivoire", "Republic of Côte d'Ivoire"),
    ("CM", "CMR", "Cameroon", "Republic of Cameroon"),
    ("CD", "COD", "Congo, The Democratic Republic of the", None),
    ("CG", "COG", "Congo", "Republic of the Congo"),
    ("CK", "COK", "Cook Islands", None),
    ("CO", "COL", "Colombia", "Republic of Colombia"),
    ("KM", "COM", "Comoros", "Union of the Comoros"),
    ("CV", "CPV", "Cabo Verde", "Republic of Cabo Verde"),
    ("CR", "CRI", "Costa Rica", "Republic of Costa Rica"),
    ("CU", "CUB", "Cuba", "Republic of Cuba"),
    ("CW", "CUW", "Curaçao", "Curaçao"),
    ("CX", "CXR", "Christmas Island", None),
    ("KY", "CYM", "Cayman Islands", None),
    ("CY", "CYP", "Cyprus", "Republic of Cyprus"),
    ("CZ", "CZE", "Czechia", "Czech Republic"),
    ("DE", "DEU", "Germany", "Federal Republic of Germany"),
    ("DJ", "DJI", "Djibouti", "Republic of Djibouti"),
    ("DM", "DMA", "Dominica", "Commonwealth of Dominica"),
    ("DK", "DNK", "Denmark", "Kingdom of Denmark"),
    ("DO", "DOM", "Dominican Republic", None),
    ("DZ", "DZA", "Algeria", "People's Democratic Republic of Algeria"),
    ("EC", "ECU", "Ecuador", "Republic of Ecuador"),
    ("EG", "EGY", "Egypt", "Arab Republic of Egypt"),
    ("ER", "ERI", "Eritrea", "the State of Eritrea"),
    ("EH", "ESH", "Western Sahara", None),
    ("ES", "ESP", "Spain", "Kingdom of Spain"),
    ("EE", "EST", "Estonia", "Republic of Estonia"),
    ("ET", "ETH", "Ethiopia", "Federal Democratic Republic of Ethiopia"),
    ("FI", "FIN", "Finland", "Republic of Finland"),
    ("FJ", "FJI", "Fiji", "Republic of Fiji"),
    ("FK", "FLK", "Falkland Islands (Malvinas)", None),
    ("FR", "FRA", "France", "French Republic"),
    ("FO", "FRO", "Faroe Islands", None),
    ("FM", "FSM", "Micronesia, Federated States of", "Federated States of Micronesia"),
    ("GA", "GAB", "Gabon", "Gabonese Republic"),
    ("GB", "GBR", "United Kingdom", "United Kingdom of Great Britain and Northern Ireland"),
    ("GE", "GEO", "Georgia", None),
    ("GG", "GGY", "Guernsey", None),
    ("GH", "GHA", "Ghana", "Republic of Ghana"),
    ("GI", "GIB", "Gibraltar", None),
    ("GN", "GIN", "Guinea", "Republic of Guinea"),
    ("GP", "GLP", "Guadeloupe", None),
    ("GM", "GMB", "Gambia", "Republic of the Gambia"),
    ("GW", "GNB", "Guinea-Bissau", "Republic of Guinea-Bissau"),
    ("GQ", "GNQ", "Equatorial Guinea", "Republic of Equatorial Guinea"),
    ("GR", "GRC", "Greece", "Hellenic Republic"),
    ("GD", "GRD", "Grenada", None),
    ("GL", "GRL", "Greenland", None),
    ("GT", "GTM", "Guatemala", "Republic of Guatemala"),
    ("GF", "GUF", "French Guiana", None),
    ("GU", "GUM", "Guam", None),
    ("GY", "GUY", "Guyana", "Republic of Guyana"),
    ("HK", "HKG", "Hong Kong", "Hong Kong Special Administrative Region of China"),
    ("HM", "HMD", "Heard Island and McDonald Islands", None),
    ("HN", "HND", "Honduras", "Republic of Honduras"),
    ("HR", "HRV", "Croatia", "Republic of Croatia"),
    ("HT", "HTI", "Haiti", "Republic of Haiti"),
    ("HU", "HUN", "Hungary", "Hungary"),
    ("ID", "IDN", "Indonesia", "Republic of Indonesia"),
    ("IM", "IMN", "Isle of Man", None),
    ("IN", "IND", "India", "Republic of India"),
    ("IO", "IOT", "British Indian Ocean Territory", None),
    ("IE", "IRL", "Ireland", None),
    ("IR", "IRN", "Iran, Islamic Republic of", "Islamic Republic of Iran"),
    ("IQ", "IRQ", "Iraq", "Republic of Iraq"),
    ("IS", "ISL", "Iceland", "Republic of Iceland"),
    ("IL", "ISR", "Israel", "State of Israel"),
    ("IT", "ITA", "Italy", "Italian Republic"),
    ("JM", "JAM", "Jamaica", None),
    ("JE", "JEY", "Jersey", None),
    ("JO", "JOR", "Jordan", "Hashemite Kingdom of Jordan"),
    ("JP", "JPN", "Japan", None),
    ("KZ", "KAZ", "Kazakhstan", "Republic of Kazakhstan"),
    ("KE", "KEN", "Kenya", "Republic of Kenya"),
    ("KG", "KGZ", "Kyrgyzstan", "Kyrgyz Republic"),
    ("KH", "KHM", "Cambodia", "Kingdom of Cambodia"),
    ("KI", "KIR", "Kiribati", "Republic of Kiribati"),
    ("KN", "KNA", "Saint Kitts and Nevis", None),
    ("KR", "KOR", "Korea, Republic of", None),
    ("KW", "KWT", "Kuwait", "State of Kuwait"),
    ("LA", "LAO", "Lao People's Democratic Republic", None),
    ("LB", "LBN", "Lebanon", "Lebanese Republic"),
    ("LR", "LBR", "Liberia", "Republic of Liberia"),
    ("LY", "LBY", "Libya", "Libya"),
    ("LC", "LCA", "Saint Lucia", None),
    ("LI", "LIE", "Liechtenstein", "Principality of Liechtenstein"),
    ("LK", "LKA", "Sri Lanka", "Democratic Socialist Republic of Sri Lanka"),
    ("LS", "LSO", "Lesotho", "Kingdom of Lesotho"),
    ("LT", "LTU", "Lithuania", "Republic of Lithuania"),
    ("LU", "LUX", "Luxembourg", "Grand Duchy of Luxembourg"),
    ("LV", "LVA", "Latvia", "Republic of Latvia"),
    ("MO", "MAC", "Macao", "Macao Special Administrative Region of China"),
    ("MF", "MAF", "Saint Martin (French part)", None),
    ("MA", "MAR", "Morocco", "Kingdom of Morocco"),
    ("MC", "MCO", "Monaco", "Principality of Monaco"),
    ("MD", "MDA", "Moldova, Republic of", "Republic of Moldova"),
    ("MG", "MDG", "Madagascar", "Republic of Madagascar"),
    ("MV", "MDV", "Maldives", "Republic of Maldives"),
    ("MX", "MEX", "Mexico", "United Mexican States"),
    ("MH", "MHL", "Marshall Islands", "Republic of the Marshall Islands"),
    ("MK", "MKD", "North Macedonia", "Republic of North Macedonia"),
    ("ML", "MLI", "Mali", "Republic of Mali"),
    ("MT", "MLT", "Malta", "Republic of Malta"),
    ("MM", "MMR", "Myanmar", "Republic of Myanmar"),
    ("ME", "MNE", "Montenegro", "Montenegro"),
    ("MN", "MNG", "Mongolia", None),
    ("MP", "MNP", "Northern Mariana Islands", "Commonwealth of the Northern Mariana Islands"),
    ("MZ", "MOZ", "Mozambique", "Republic of Mozambique"),
    ("MR", "MRT", "Mauritania", "Islamic Republic of Mauritania"),
    ("MS", "MSR", "Montserrat", None),
    ("MQ", "MTQ", "Martinique", None),
    ("MU", "MUS", "Mauritius", "Republic of Mauritius"),
    ("MW", "MWI", "Malawi", "Republic of Malawi"),
    ("MY", "MYS", "Malaysia", None),
    ("YT", "MYT", "Mayotte", None),
    ("NA", "NAM", "Namibia", "Republic of Namibia"),
    ("NC", "NCL", "New Caledonia", None),
    ("NE", "NER", "Niger", "Republic of the Niger"),
    ("NF", "NFK", "Norfolk Island", None),
    ("NG", "NGA", "Nigeria", "Federal Republic of Nigeria"),
    ("NI", "NIC", "Nicaragua", "Republic of Nicaragua"),
    ("NU", "NIU", "Niue", "Niue"),
    ("NL", "NLD", "Netherlands", "Kingdom of the Netherlands"),
    ("NO", "NOR", "Norway", "Kingdom of Norway"),
    ("NP", "NPL", "Nepal", "Federal Democratic Republic of Nepal"),
    ("NR", "NRU", "Nauru", "Republic of Nauru"),
    ("NZ", "NZL", "New Zealand", None),
    ("OM", "OMN", "Oman", "Sultanate of Oman"),
    ("PK", "PAK", "Pakistan", "Islamic Republic of Pakistan"),
    ("PA", "PAN", "Panama", "Republic of Panama"),
    ("PN", "PCN", "Pitcairn", None),
    ("PE", "PER", "Peru", "Republic of Peru"),
    ("PH", "PHL", "Philippines", "Republic of the Philippines"),
    ("PW", "PLW", "Palau", "Republic of Palau"),
    ("PG", "PNG", "Papua New Guinea", "Independent State of Papua New Guinea"),
    ("PL", "POL", "Poland", "Republic of Poland"),
    ("PR", "PRI", "Puerto Rico", None),
    ("KP", "PRK", "Korea, Democratic People's Republic of", "Democratic People's Republic of Korea"),
    ("PT", "PRT", "Portugal", "Portuguese Republic"),
    ("PY", "PRY", "Paraguay", "Republic of Paraguay"),
    ("PS", "PSE", "Palestine, State of", "the State of Palestine"),
    ("PF", "PYF", "French Polynesia", None),
    ("QA", "QAT", "Qatar", "State of Qatar"),
    ("RE", "REU", "Réunion", None),
    ("RO", "ROU", "Romania", None),
    ("RU", "RUS", "Russian Federation", None),
    ("RW", "RWA", "Rwanda", "Rwandese Republic"),
    ("SA", "SAU", "Saudi Arabia", "Kingdom of Saudi Arabia"),
    ("SD", "SDN", "Sudan", "Republic of the Sudan"),
    ("SN", "SEN", "Senegal", "Republic of Senegal"),
    ("SG", "SGP", "Singapore", "Republic of Singapore"),
    ("GS", "SGS", "South Georgia and the South Sandwich Islands", None),
    ("SH", "SHN", "Saint Helena, Ascension and Tristan da Cunha", None),
    ("SJ", "SJM", "Svalbard and Jan Mayen", None),
    ("SB", "SLB", "Solomon Islands", None),
    ("SL", "SLE", "Sierra Leone", "Republic of Sierra Leone"),
    ("SV", "SLV", "El Salvador", "Republic of El Salvador"),
    ("SM", "SMR", "San Marino", "Republic of San Marino"),
    ("SO", "SOM", "Somalia", "Federal Republic of Somalia"),
    ("PM", "SPM", "Saint Pierre and Miquelon", None),
    ("RS", "SRB", "Serbia", "Republic of Serbia"),
    ("SS", "SSD", "South Sudan", "Republic of South Sudan"),
    ("ST", "STP", "Sao Tome and Principe", "Democratic Republic of Sao Tome and Principe"),
    ("SR", "SUR", "Suriname", "Republic of Suriname"),
    ("SK", "SVK", "Slovakia", "Slovak Republic"),
    ("SI", "SVN", "Slovenia", "Republic of Slovenia"),
    ("SE", "SWE", "Sweden", "Kingdom of Sweden"),
    ("SZ", "SWZ", "Eswatini", "Kingdom of Eswatini"),
    ("SX", "SXM", "Sint Maarten (Dutch part)", "Sint Maarten (Dutch part)"),
    ("SC", "SYC", "Seychelles", "Republic of Seychelles"),
    ("SY", "SYR", "Syrian Arab Republic", None),
    ("TC", "TCA", "Turks and Caicos Islands", None),
    ("TD", "TCD", "Chad", "Republic of Chad"),
    ("TG", "TGO", "Togo", "Togolese Republic"),
    ("TH", "THA", "Thailand", "Kingdom of Thailand"),
    ("TJ", "TJK", "Tajikistan", "Republic of Tajikistan"),
    ("TK", "TKL", "Tokelau", None),
    ("TM", "TKM", "Turkmenistan", None),
    ("TL", "TLS", "Timor-Leste", "Democratic Republic of Timor-Leste"),
    ("TO", "TON", "Tonga", "Kingdom of Tonga"),
    ("TT", "TTO", "Trinidad and Tobago", "Republic of Trinidad and Tobago"),
    ("TN", "TUN", "Tunisia", "Republic of Tunisia"),
    ("TR", "TUR", "Türkiye", "Republic of Türkiye"),
    ("TV", "TUV", "Tuvalu", None),
    ("TW", "TWN", "Taiwan, Province of China", "Taiwan, Province of China"),
    ("TZ", "TZA", "Tanzania, United Republic of", "United Republic of Tanzania"),
    ("UG", "UGA", "Uganda", "Republic of Uganda"),
    ("UA", "UKR", "Ukraine", None),
    ("UM", "UMI", "United States Minor Outlying Islands", None),
    ("UY", "URY", "Uruguay", "Eastern Republic of Uruguay"),
    ("US", "USA", "United States", "United States of America"),
    ("UZ", "UZB", "Uzbekistan", "Republic of Uzbekistan"),
    ("VA", "VAT", "Holy See (Vatican City State)", None),
    ("VC", "VCT", "Saint Vincent and the Grenadines", None),
    ("VE", "VEN", "Venezuela, Bolivarian Republic of", "Bolivarian Republic of Venezuela"),
    ("VG", "VGB", "Virgin Islands, British", "British Virgin Islands"),
    ("VI", "VIR", "Virgin Islands, U.S.", "Virgin Islands of the United States"),
    ("VN", "VNM", "Viet Nam", "Socialist Republic of Viet Nam"),
    ("VU", "VUT", "Vanuatu", "Republic of Vanuatu"),
    ("WF", "WLF", "Wallis and Futuna", None),
    ("WS", "WSM", "Samoa", "Independent State of Samoa"),
    ("YE", "YEM", "Yemen", "Republic of Yemen"),
    ("ZA", "ZAF", "South Africa", "Republic of South Africa"),
    ("ZM", "ZMB", "Zambia", "Republic of Zambia"),
    ("ZW", "ZWE", "Zimbabwe", "Republic of Zimbabwe"),
)

# Non-ISO aliases that appear in Eurostat feeds, handled by the
# reference through country_converter (etl:271-276): alias → alpha3.
EXTRA_ALIASES: tuple[tuple[str, str], ...] = (
    ("el", "GRC"),
    ("uk", "GBR"),
)


def alias_rows() -> list[tuple[str, str, str]]:
    """(alias, iso3, canonical_name) rows — the reference's
    ``map_countries()`` dict flattened, incl. last-writer-wins on alias
    collisions, plus the Eurostat EL/UK quirks. Deterministic order."""
    by_alias: dict[str, tuple[str, str]] = {}
    for a2, a3, name, official in COUNTRIES:
        for alias in (name.lower(), a2.lower(), a3.lower()):
            by_alias[alias] = (a3, name)
        if official:
            by_alias[official.lower()] = (a3, name)
    iso3_to_name = {a3: name for _, a3, name, _ in COUNTRIES}
    for alias, a3 in EXTRA_ALIASES:
        by_alias[alias] = (a3, iso3_to_name[a3])
    return [(alias, a3, name) for alias, (a3, name) in sorted(by_alias.items())]


def alias_relation(spark: SparkSession) -> DataFrame:
    """The universe as a broadcast-sized lookup relation
    ``(alias, iso3, canonical_name)`` (~750 rows, a few KB)."""
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in ("alias", "iso3", "canonical_name")]
    )
    return local_frame(spark, [dict(zip(schema.names, r)) for r in alias_rows()], schema)


def alias_values_sql() -> str:
    """The SAME rows as a DuckDB VALUES list, for oracle twins. Both
    engines read one constant, so parity is by construction."""
    rows = ", ".join(
        "('{}', '{}', '{}')".format(
            a.replace("'", "''"), i, n.replace("'", "''")
        )
        for a, i, n in alias_rows()
    )
    return f"(VALUES {rows}) AS aliases(alias, iso3, canonical_name)"
