SELECT 42 AS "i",
       3000000000 AS "big",
       31 AS "h",
       4294967295 AS "hbig",
       2.5::DOUBLE AS "f",
       0.5::DOUBLE AS "lead",
       1000.0::DOUBLE AS "e",
       2.5::DOUBLE AS "en",
       'tab' || chr(9) || 'here' AS "s",
       'it''s "quoted"' AS "q",
       'line1' || chr(10) || 'line2' AS "nl"
FROM StormEvents
WHERE EventId = 1
