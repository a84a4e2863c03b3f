SELECT EventId,
       true AS t,
       false AS f,
       NULL AS n,
       coalesce((State IS NOT NULL) = true, false) AS known
FROM StormEvents
WHERE EventId <= 2 OR State IS NULL
ORDER BY EventId ASC NULLS FIRST
